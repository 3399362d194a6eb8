"""Archive ingestion: CSV/TSV members inside zip files (engine surface —
open-data portals routinely publish a zip of CSVs per release).

One task per archive (sources/files.py) unzips it from bytes with the
stdlib; archives are unsplittable, so the parallelism is across MANY
archives. Member rows come out as an all-string cell grid (archive, member,
row_idx, cells) exactly like the workbook grid, feeding the same
downstream typing; unreadable archives/members emit sentinel rows the
quarantine splitter routes to the errors side-output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .files import fan_out, list_files

ARCHIVE_CELLS_SCHEMA = (
    "archive string, member string, row_idx bigint, cells array<string>"
)

# member-name sentinel for unreadable archives / members
ERROR_MEMBER = "__error__"


def _rows_from_zip(name: str, data: bytes):
    """Yield (archive, member, row_idx, cells) for every CSV/TSV member;
    one sentinel row per unreadable member, so a bad member never hides
    the archive's good ones (an unreadable archive is fan_out's error
    row)."""
    import csv
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            member = info.filename
            low = member.lower()
            if info.is_dir() or not low.endswith((".csv", ".tsv")):
                continue
            delim = "\t" if low.endswith(".tsv") else ","
            try:
                with zf.open(info) as fh:
                    text = io.TextIOWrapper(
                        fh, encoding="utf-8", errors="replace", newline=""
                    )
                    for i, row in enumerate(csv.reader(text, delimiter=delim)):
                        yield name, member, i, ["" if c is None else c for c in row]
            except Exception as exc:  # noqa: BLE001 — truncated member etc.
                yield name, member, -1, [f"{type(exc).__name__}: {exc}"]


def scan_zip_tables(spark: SparkSession, path: str) -> DataFrame:
    """Distributed zip-of-CSVs scan → (archive, member, row_idx, cells)."""
    return fan_out(
        list_files(spark, path, ("zip",)),
        ARCHIVE_CELLS_SCHEMA,
        _rows_from_zip,
        lambda path, data, err: [(path, ERROR_MEMBER, -1, [err])],
    )


def scan_zip_tables_quarantined(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """scan_zip_tables split through quality.quarantine, like the
    workbook scan: sentinel rows become `_errors` rows."""
    from ..quality import quarantine

    cells = scan_zip_tables(spark, path)
    return quarantine(
        cells,
        {
            "archive_readable": F.col("member") != ERROR_MEMBER,
            "member_readable": F.col("row_idx") >= 0,
        },
    )
