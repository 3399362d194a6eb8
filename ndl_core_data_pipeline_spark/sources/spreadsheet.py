"""Spreadsheet ingestion (SURVEY §2.1 S4) — XLSX/XLS/ODS multi-sheet
scan, all cells as strings, one output table per sheet
(resources/convertors/spreadsheet_to_parquet.py:108-187; sheet-name
sanitizer :46-61; 60 s read timeout :43,123-139).

Both formats read through pure-stdlib parsers — XLSX via the
SpreadsheetML tier in ``sources/xlsx.py`` (zip + XML per the public
ECMA-376 spec), ODS via the OpenDocument tier in ``sources/ods.py``
(OASIS ODF v1.2) — so no openpyxl/odfpy dependency is needed.
Spreadsheets are small by nature; parallelism comes from MANY FILES
(one task per file), not from splitting one workbook.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.infer import infer_and_cast
from .files import fan_out, list_files

FILE_READ_TIMEOUT_S = 60  # spreadsheet_to_parquet.py:43


def sanitize_sheet_name(name: str) -> str:
    """spreadsheet_to_parquet.py:46-61: filesystem-safe sheet names."""
    s = re.sub(r"[\s/]+", "_", name.strip())
    s = re.sub(r'[<>:"\\|?*\x00-\x1f]', "", s)
    s = re.sub(r"_+", "_", s).strip("_.")
    return s or "sheet"


def unique_sheet_name(name: str, taken) -> str:
    """Sanitized sheet name, suffixed _2/_3/... on collision — shared by
    the XLSX and ODS cell tiers so both dedupe identically."""
    safe = sanitize_sheet_name(name)
    n, candidate = 1, safe
    while candidate in taken:
        n += 1
        candidate = f"{safe}_{n}"
    return candidate


def read_workbook_sheets(path: str) -> dict[str, list[list[str]]]:
    """Single-workbook read: {sheet → rectangular rows of string cells}.
    XLSX via the pure-Python SpreadsheetML tier (sources/xlsx.py), ODS
    via the OpenDocument tier (sources/ods.py)."""
    if path.lower().endswith(".ods"):
        from .ods import read_ods

        return read_ods(path)
    from .xlsx import read_xlsx

    return read_xlsx(path)


def read_workbook_bytes(name: str, data: bytes) -> dict[str, list[list[str]]]:
    """read_workbook_sheets over in-memory content — the executor-side
    form used by scan_workbooks (binaryFile rows carry bytes, not paths
    local to the executor)."""
    import io as _io

    if name.lower().endswith(".ods"):
        from .ods import read_ods

        return read_ods(_io.BytesIO(data))
    from .xlsx import read_xlsx

    return read_xlsx(_io.BytesIO(data))


# one cell-grid row per sheet row; cells stay strings (typing happens
# downstream per sheet via infer_and_cast, as in sheets_to_frames)
WORKBOOK_CELLS_SCHEMA = (
    "path string, sheet string, row_idx bigint, cells array<string>"
)

# sheet-name sentinel for unreadable workbooks: the scan keeps going and
# the caller can route these rows to a quarantine path
ERROR_SHEET = "__error__"


def _workbook_rows(path: str, data: bytes):
    return [
        (path, sheet, i, row)
        for sheet, rows in read_workbook_bytes(path, data).items()
        for i, row in enumerate(rows)
    ]


def scan_workbooks(spark: SparkSession, path: str) -> DataFrame:
    """Distributed multi-workbook scan (the at-scale S4 shape): one task
    per .xlsx/.ods file (sources/files.py), each parsing its workbook
    from bytes with the pure-Python tiers. Output: (path, sheet,
    row_idx, cells) — the exploded all-string cell grid,
    repartitionable downstream. One corrupt or truncated workbook
    (BadZipFile, XML ParseError, missing content.xml, ...) yields one
    ERROR_SHEET sentinel row instead of failing a million-file scan.

    Reference analog: one converter invocation per spreadsheet
    (resources/convertors/spreadsheet_to_parquet.py:108-187).
    """
    return fan_out(
        list_files(spark, path, ("xlsx", "ods")),
        WORKBOOK_CELLS_SCHEMA,
        _workbook_rows,
        lambda path, data, err: [(path, ERROR_SHEET, -1, [err])],
    )


def scan_workbooks_quarantined(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """scan_workbooks split through the engine's standard error
    side-output (quality.quarantine): sentinel rows for unreadable
    workbooks become quarantine rows carrying `_errors` =
    ['workbook_readable'] plus the exception text in `cells`, instead of
    riding inline with the data or being silently dropped — the same
    errors-posture every other source uses. Returns (cells, errors);
    both halves share one computed scan plan."""
    from ..quality import quarantine

    cells = scan_workbooks(spark, path)
    return quarantine(
        cells, {"workbook_readable": F.col("sheet") != ERROR_SHEET}
    )


def sheets_to_frames(
    spark: SparkSession, sheets: dict[str, list[list[str]]], infer: bool = True
) -> dict[str, DataFrame]:
    """Per-sheet all-string DataFrames (header = first row), optionally
    type-inferred — the to-parquet half of S4, usable with ANY cell
    source (tests feed it directly, bypassing the gated reader)."""
    frames: dict[str, DataFrame] = {}
    for name, rows in sheets.items():
        if not rows:
            continue
        header = [h if h else f"col_{i}" for i, h in enumerate(rows[0])]
        body = [[("" if c is None else str(c)) for c in r] for r in rows[1:]]
        df = spark.createDataFrame(body or [[""] * len(header)], header)
        if not body:
            df = df.limit(0)
        frames[name] = infer_and_cast(df) if infer else df
    return frames
