"""S4 distributed workbook fan-out: binaryFile listing -> mapInPandas
parse-from-bytes -> exploded (path, sheet, row_idx, cells) grid."""

from __future__ import annotations

import zipfile

import pytest

from ndl_core_data_pipeline_spark.sources.spreadsheet import scan_workbooks

from .test_ods import _CONTENT as ODS_CONTENT
from . import test_xlsx as X


@pytest.fixture(scope="module")
def workbook_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("workbooks")
    with zipfile.ZipFile(d / "a.xlsx", "w") as zf:
        zf.writestr("[Content_Types].xml", X._CT)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/sharedStrings.xml", X._SHARED)
        zf.writestr("xl/worksheets/sheet1.xml", X._SHEET1)
        zf.writestr("xl/worksheets/sheet2.xml", X._SHEET2)
    with zipfile.ZipFile(d / "b.ods", "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", ODS_CONTENT)
    # a decoy the extension filter must skip
    (d / "notes.txt").write_text("not a workbook")
    return str(d)


def test_scan_workbooks_fans_out(spark, workbook_dir):
    df = scan_workbooks(spark, workbook_dir)
    assert df.schema.simpleString() == (
        "struct<path:string,sheet:string,row_idx:bigint,cells:array<string>>"
    )
    rows = df.collect()
    by_sheet = {}
    for r in rows:
        by_sheet.setdefault((r["path"].split("/")[-1], r["sheet"]), []).append(r)
    # xlsx contributes its 2 sheets, ods its 2; the .txt decoy none
    assert {k[0] for k in by_sheet} == {"a.xlsx", "b.ods"}
    assert ("a.xlsx", "Water_Level_Readings") in by_sheet
    assert ("b.ods", "Awards_2017_18") in by_sheet
    # cell grids round-trip identically to the single-file readers
    water = sorted(
        by_sheet[("a.xlsx", "Water_Level_Readings")], key=lambda r: r["row_idx"]
    )
    assert water[0]["cells"][:3] == ["Station", "Level", "Open"]
    awards = sorted(
        by_sheet[("b.ods", "Awards_2017_18")], key=lambda r: r["row_idx"]
    )
    assert awards[1]["cells"] == ["MPS", "Contact", "263246", "2017-11-02", "True"]


def test_scan_workbooks_isolates_corrupt_files(spark, tmp_path):
    import zipfile as _zf

    from ndl_core_data_pipeline_spark.sources.spreadsheet import ERROR_SHEET

    d = tmp_path / "wb"
    d.mkdir()
    with _zf.ZipFile(d / "good.ods", "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", ODS_CONTENT)
    # three corruption modes: not a zip, truncated zip, zip missing content.xml
    (d / "notzip.xlsx").write_bytes(b"PK\x03\x04 truncated garbage")
    with _zf.ZipFile(d / "empty.ods", "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
    rows = scan_workbooks(spark, str(d)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["path"].split("/")[-1], []).append(r)
    # the good workbook still scans fully
    assert any(r["sheet"] == "Awards_2017_18" for r in by_file["good.ods"])
    # the corrupt ones yield exactly one sentinel row each, not a job failure
    for bad in ("notzip.xlsx", "empty.ods"):
        errs = by_file[bad]
        assert len(errs) == 1
        assert errs[0]["sheet"] == ERROR_SHEET
        assert errs[0]["row_idx"] == -1
        assert errs[0]["cells"][0]  # carries the exception message


def test_scan_workbooks_quarantine_side_output(spark, tmp_path):
    import zipfile as _zf

    from ndl_core_data_pipeline_spark.quality import ERRORS_COL
    from ndl_core_data_pipeline_spark.sources.spreadsheet import (
        scan_workbooks_quarantined,
    )

    d = tmp_path / "wbq"
    d.mkdir()
    with _zf.ZipFile(d / "good.ods", "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", ODS_CONTENT)
    (d / "corrupt.xlsx").write_bytes(b"PK\x03\x04 truncated garbage")
    cells, errors = scan_workbooks_quarantined(spark, str(d))
    cell_rows = cells.collect()
    err_rows = errors.collect()
    # clean rows flow on without the marker column or sentinel rows
    assert ERRORS_COL not in cells.columns
    assert all(r["sheet"] != "__error__" for r in cell_rows)
    assert any(r["path"].endswith("good.ods") for r in cell_rows)
    # the corrupt workbook lands in the quarantine output, self-described
    assert len(err_rows) == 1
    err = err_rows[0]
    assert err["path"].endswith("corrupt.xlsx")
    assert err[ERRORS_COL] == ["workbook_readable"]
    assert err["cells"][0]  # exception class + message travel with the row
