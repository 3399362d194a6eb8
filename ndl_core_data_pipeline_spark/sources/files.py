"""Raw-file fan-out shared by every file reader in `sources/` (SURVEY
§2.1 S4/S5/S8).

The reference converts each raw file on its own: one converter call per
PDF, workbook or document (resources/convertors/pdf_extractor.py:56-101,
spreadsheet_to_parquet.py:108-187). Such files are individually small
and unsplittable, so at 100 TB the parallelism is across MILLIONS of
files: `list_files` lets binaryFile distribute the listing by file, and
`fan_out` hands each file's bytes to a pure-Python decoder inside one
mapInPandas stage. Arrow batching moves the bytes once; the per-file
cost is the decoder itself.
"""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _any_case_glob(exts: tuple[str, ...]) -> str:
    """("xlsx", "ods") -> "*.{[xX][lL][sS][xX],[oO][dD][sS]}"."""
    alts = [
        "".join(f"[{c.lower()}{c.upper()}]" if c.isalpha() else c for c in ext)
        for ext in exts
    ]
    return "*." + (alts[0] if len(alts) == 1 else "{" + ",".join(alts) + "}")


def list_files(spark: SparkSession, path: str, exts: tuple[str, ...]) -> DataFrame:
    """(path, content) for every file under `path` whose extension is one
    of `exts`, in any letter case ('Data.Zip' is a zip). The glob prunes
    at the LISTING, so other files' bytes are never read: binaryFile
    pushes down only length/modificationTime predicates, never path.

    Spark leaves zero-length files out of a file scan: each listed file
    (`inputFiles()`, no job) that a path-only scan (one job, no content
    read) lacks comes back as (path, b""), an error row in fan_out."""
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _any_case_glob(exts))
        .load(path)
        .select("path", "content")
    )
    # listing URIs ('file:///a%20b') in the scan's path form ('file:/a b')
    listed = {re.sub("^file:///", "file:/", unquote(p)) for p in scan.inputFiles()}
    scanned = {r.path for r in scan.select("path").collect()}
    empty = [(p, b"") for p in sorted(listed - scanned)]
    if not empty:
        return scan
    return scan.union(spark.createDataFrame(empty, "path string, content binary"))


def fan_out(files: DataFrame, schema: str, decode, error_rows=None) -> DataFrame:
    """One mapInPandas stage over (path, content) rows, one output batch
    per input batch. `decode(path, data)` returns the file's rows as
    tuples in `schema` order. Per-file fault isolation: the rows are
    built inside the `try`, so a file that raises yields only
    `error_rows(path, data, message)` — never partial rows — and the
    scan keeps going; with no `error_rows` the exception fails the
    task. An empty payload is never decoded, and with `error_rows` a
    file that yields no rows is an error too, so every file yields at
    least one row."""
    names = StructType.fromDDL(schema).names

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                try:
                    got = list(decode(path, data)) if data else []
                    if not got and error_rows is not None:
                        raise ValueError("no rows" if data else "empty file")
                except Exception as exc:  # noqa: BLE001 — per-file isolation
                    if error_rows is None:
                        raise
                    got = error_rows(path, data, f"{type(exc).__name__}: {exc}")
                rows.extend(got)
            cols = zip(*rows) if rows else [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)})

    return files.mapInPandas(run, schema)
