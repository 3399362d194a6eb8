"""Round-7 source-format additions: fixed-width text, zip archives, ORC."""

from __future__ import annotations

import zipfile

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark.sources.fixedwidth import (
    FwColumn,
    read_fixed_width,
)


LAYOUT = [
    FwColumn("station", 1, 8),
    FwColumn("level", 9, 8),
    FwColumn("reading_date", 17, 10),
    FwColumn("open_flag", 27, 5),
]


def _write_fw(path):
    lines = [
        "STATION LEVEL   DATE      OPEN ",  # header
        "ALPHA      12.5 2020-01-02 true",
        "BRAVO     -3.25 2020-02-03false",
        "CHARLIE       7 2020-03-04 true",
        "DELTA",  # short line: trailing fields empty
    ]
    path.write_text("\n".join(lines) + "\n")


def test_fixed_width_parses_and_infers(spark, tmp_path):
    f = tmp_path / "stations.txt"
    _write_fw(f)
    df = read_fixed_width(spark, str(f), LAYOUT, header_lines=1)
    rows = {r["station"]: r for r in df.collect()}
    assert set(rows) == {"ALPHA", "BRAVO", "CHARLIE", "DELTA"}
    # inference: level numeric, date typed, flag boolean (same two-phase
    # rules as the CSV reader)
    assert rows["ALPHA"]["level"] == 12.5
    assert rows["BRAVO"]["level"] == -3.25
    assert rows["CHARLIE"]["level"] == 7.0
    assert str(rows["ALPHA"]["reading_date"]).startswith("2020-01-02")
    # the inference rule set (reference §1.4) has no boolean tier: flags
    # stay strings, like the CSV reader
    assert rows["BRAVO"]["open_flag"] == "false"
    # short line: missing fields are null/empty, row not dropped
    assert rows["DELTA"]["level"] is None


def test_fixed_width_all_string_when_not_inferring(spark, tmp_path):
    f = tmp_path / "s.txt"
    _write_fw(f)
    df = read_fixed_width(spark, str(f), LAYOUT, header_lines=1, infer=False)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 4
    got = {r["station"]: r["level"] for r in df.collect()}
    assert got["BRAVO"] == "-3.25"  # pad-trimmed, untyped


def _make_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_zip_scan_fans_out_members(spark, tmp_path):
    from ndl_core_data_pipeline_spark.sources.archives import scan_zip_tables

    d = tmp_path / "zips"
    d.mkdir()
    _make_zip(
        d / "release1.zip",
        {
            "a.csv": "id,name\n1,x\n2,y\n",
            "sub/b.tsv": "k\tv\n10\tfoo\n",
            "notes.txt": "ignored",
        },
    )
    _make_zip(d / "release2.zip", {"c.csv": "h\n7\n"})
    (d / "decoy.csv").write_text("not,an,archive\n")
    rows = scan_zip_tables(spark, str(d)).collect()
    by = {}
    for r in rows:
        by.setdefault(
            (r["archive"].split("/")[-1], r["member"]), []
        ).append((r["row_idx"], r["cells"]))
    assert set(by) == {
        ("release1.zip", "a.csv"),
        ("release1.zip", "sub/b.tsv"),
        ("release2.zip", "c.csv"),
    }
    a = sorted(by[("release1.zip", "a.csv")])
    assert a[0] == (0, ["id", "name"])
    assert a[1] == (1, ["1", "x"])
    b = sorted(by[("release1.zip", "sub/b.tsv")])
    assert b[1] == (1, ["10", "foo"])  # TSV delimiter honored


def test_zip_scan_quarantines_corrupt_archive(spark, tmp_path):
    from ndl_core_data_pipeline_spark.quality import ERRORS_COL
    from ndl_core_data_pipeline_spark.sources.archives import (
        scan_zip_tables_quarantined,
    )

    d = tmp_path / "zips"
    d.mkdir()
    _make_zip(d / "good.zip", {"t.csv": "x\n1\n"})
    (d / "bad.zip").write_bytes(b"PK\x03\x04 truncated")
    cells, errors = scan_zip_tables_quarantined(spark, str(d))
    ok = cells.collect()
    assert all(r["member"] != "__error__" for r in ok)
    assert any(r["archive"].endswith("good.zip") for r in ok)
    errs = errors.collect()
    assert len(errs) == 1
    assert errs[0]["archive"].endswith("bad.zip")
    assert errs[0][ERRORS_COL] == ["archive_readable", "member_readable"]


def test_orc_roundtrip_with_pushdown(spark, sf_small, tmp_path):
    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.plans import explain_formatted
    from ndl_core_data_pipeline_spark.sinks import read_orc, write_orc

    src = load(spark, sf_small, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(src.select("o_orderkey", "o_totalprice", "o_orderpriority"), out)
    back = read_orc(spark, out).filter(F.col("o_orderpriority") == "1-URGENT")
    assert back.count() == src.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()
    plan = explain_formatted(back)
    # the same pushdown machinery as parquet: the predicate reaches the scan
    assert "PushedFilters" in plan and "o_orderpriority" in plan


def test_avro_tier_gates_cleanly(spark, tmp_path):
    """spark-avro is an external module; in this sandbox the tier must
    refuse with the declared-tier message (and work transparently when
    the jar is present)."""
    import pytest

    from ndl_core_data_pipeline_spark.sinks import (
        _avro_available,
        read_avro,
        write_avro,
    )

    df = spark.range(3)
    out = str(tmp_path / "a")
    if _avro_available(spark):
        write_avro(df, out)
        assert read_avro(spark, out).count() == 3
    else:
        with pytest.raises(NotImplementedError, match="avro tier unavailable"):
            write_avro(df, out)
        with pytest.raises(NotImplementedError, match="avro tier unavailable"):
            read_avro(spark, out)


_DOCX_DOC = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
 <w:body>
  <w:p><w:r><w:t>Hello </w:t></w:r><w:r><w:t>world</w:t></w:r></w:p>
  <w:p><w:r><w:t>Col A</w:t><w:tab/><w:t>Col B</w:t></w:r></w:p>
  <w:p><w:r><w:t>line one</w:t><w:br/><w:t>line two</w:t></w:r></w:p>
  <w:p/>
 </w:body>
</w:document>
"""

_DOCX_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/word/document.xml"
  ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>
"""


def _make_docx(path):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _DOCX_CT)
        zf.writestr("word/document.xml", _DOCX_DOC)


def test_extract_docx_text_paragraphs_tabs_breaks(tmp_path):
    from ndl_core_data_pipeline_spark.sources.docx import extract_docx_text

    f = tmp_path / "d.docx"
    _make_docx(f)
    text = extract_docx_text(f.read_bytes())
    assert text == "Hello world\nCol A\tCol B\nline one\nline two\n"


def test_scan_docx_fans_out_with_error_isolation(spark, tmp_path):
    from ndl_core_data_pipeline_spark.sources.docx import scan_docx

    d = tmp_path / "docs"
    d.mkdir()
    _make_docx(d / "good.docx")
    (d / "corrupt.docx").write_bytes(b"PK\x03\x04 nope")
    (d / "ignored.txt").write_text("decoy")
    rows = {r["path"].split("/")[-1]: r for r in scan_docx(spark, str(d)).collect()}
    assert set(rows) == {"good.docx", "corrupt.docx"}
    good = rows["good.docx"]
    assert good["error"] is None
    assert good["text"].startswith("Hello world")
    assert good["n_paragraphs"] == 5  # 4 w:p, one containing a w:br
    bad = rows["corrupt.docx"]
    assert bad["error"] and bad["text"] == ""


def test_front_matter_parsing():
    from ndl_core_data_pipeline_spark.sources.markdown import split_front_matter

    md = '---\ntitle: "My Doc"\ndate: 2024-01-05\ntags: a, b\n---\n# Body\n'
    meta, body = split_front_matter(md)
    assert meta == {"title": "My Doc", "date": "2024-01-05", "tags": "a, b"}
    assert body == "# Body\n"
    # no fence / unclosed fence: input passes through untouched
    assert split_front_matter("plain text") == ({}, "plain text")
    unclosed = "---\ntitle: x\nno close"
    assert split_front_matter(unclosed) == ({}, unclosed)


def test_markdown_to_text_rules():
    from ndl_core_data_pipeline_spark.sources.markdown import markdown_to_text

    md = (
        "# Title\n\nSome **bold** and *em* and `code`.\n\n"
        "- item one\n1. numbered\n\n"
        "See [the docs](https://example.org/d).\n\n"
        "```python\nx = 1\n```\n\n> quoted\n\n---\n"
    )
    text = markdown_to_text(md)
    assert text.startswith("Title")
    assert "**" not in text and "`" not in text and "#" not in text
    assert "- item one" in text and "- numbered" in text
    assert "the docs (https://example.org/d)" in text
    assert "x = 1" in text  # fence content kept, fence markers dropped
    assert "quoted" in text and ">" not in text


def test_scan_markdown_meta_and_isolation(spark, tmp_path):
    from ndl_core_data_pipeline_spark.sources.markdown import scan_markdown

    d = tmp_path / "md"
    d.mkdir()
    (d / "a.md").write_text("---\ntitle: A\n---\n# Hi\nbody text\n")
    (d / "b.markdown").write_text("no front matter, just text")
    (d / "bad.md").write_bytes(b"\xff\xfe invalid \x80 utf8 \xff")
    (d / "decoy.rst").write_text("ignored")
    rows = {r["path"].split("/")[-1]: r for r in scan_markdown(spark, str(d)).collect()}
    assert set(rows) == {"a.md", "b.markdown", "bad.md"}
    assert rows["a.md"]["meta"] == {"title": "A"}
    assert rows["a.md"]["text"] == "Hi\nbody text"
    assert rows["b.markdown"]["meta"] == {}
    assert rows["bad.md"]["error"] and rows["bad.md"]["text"] == ""


def test_fixed_width_roundtrip_random_layouts(spark, tmp_path):
    """Format random records into a random fixed-width layout, parse,
    and compare — widths/values generated with a fixed seed, values
    free of pad chars and narrower than their field."""
    import random

    rng = random.Random(2024)
    for trial in range(3):
        n_cols = rng.randint(2, 5)
        widths = [rng.randint(3, 10) for _ in range(n_cols)]
        layout, start = [], 1
        for i, w in enumerate(widths):
            layout.append(FwColumn(f"c{i}", start, w))
            start += w
        alphabet = "abcXYZ019_"
        records = [
            [
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, w - 1)))
                for w in widths
            ]
            for _ in range(20)
        ]
        lines = [
            "".join(v.ljust(w) for v, w in zip(rec, widths)) for rec in records
        ]
        f = tmp_path / f"fw{trial}.txt"
        f.write_text("\n".join(lines) + "\n")
        df = read_fixed_width(spark, str(f), layout, infer=False)
        got = sorted(tuple(r) for r in df.collect())
        expect = sorted(tuple(rec) for rec in records)
        assert got == expect


def test_front_matter_roundtrip_random_scalars():
    import random

    from ndl_core_data_pipeline_spark.sources.markdown import split_front_matter

    rng = random.Random(5)
    for _ in range(20):
        meta = {
            f"k{i}": "".join(
                rng.choice("abc XYZ 019 .,;") for _ in range(rng.randint(0, 12))
            ).strip()
            for i in range(rng.randint(1, 6))
        }
        body = "# body\ncontent\n"
        md = (
            "---\n"
            + "".join(f"{k}: {v}\n" for k, v in meta.items())
            + "---\n"
            + body
        )
        got_meta, got_body = split_front_matter(md)
        assert got_meta == meta
        assert got_body == body


def test_fixed_width_header_skip_per_file(spark, tmp_path):
    """Review finding: a global id filter drops headers only from the
    first-scheduled file. The per-file window must drop EVERY file's
    header."""
    d = tmp_path / "multi"
    d.mkdir()
    for n in ("p1.txt", "p2.txt", "p3.txt"):
        (d / n).write_text(
            "STATION LEVEL   DATE      OPEN \n"
            f"{n[:2].upper()}X        1.5 2020-05-06 true\n"
        )
    df = read_fixed_width(spark, str(d), LAYOUT, header_lines=1, infer=False)
    rows = df.collect()
    assert len(rows) == 3  # one data row per file, zero surviving headers
    assert all(r["station"] != "STATION" for r in rows)
    assert {r["station"] for r in rows} == {"P1X", "P2X", "P3X"}


def test_scan_handles_mixed_case_extensions(spark, tmp_path):
    """Review finding: case-sensitive listing globs silently dropped
    'Data.Zip'-style names Windows tooling produces. Every file scanner
    reads its own extension in any case and nothing else: each kind sits
    beside a decoy whose name only contains the extension."""
    from ndl_core_data_pipeline_spark.sources.archives import scan_zip_tables
    from ndl_core_data_pipeline_spark.sources.docx import scan_docx
    from ndl_core_data_pipeline_spark.sources.markdown import scan_markdown
    from ndl_core_data_pipeline_spark.sources.pdfs import scan_pdfs
    from ndl_core_data_pipeline_spark.sources.spreadsheet import scan_workbooks

    from . import test_xlsx as X
    from .test_ods import _CONTENT as ODS_CONTENT
    from .test_pdf import _mini_pdf

    d = tmp_path / "mixed"
    d.mkdir()
    _make_zip(d / "Data.Zip", {"t.csv": "x\n1\n"})
    (d / "Read.Md").write_text("hello")
    (d / "Doc.PDF").write_bytes(_mini_pdf([b"Hello PDF"]))
    _make_docx(d / "Memo.DocX")
    _make_zip(
        d / "Book.XLSX",
        {
            "[Content_Types].xml": X._CT,
            "_rels/.rels": X._ROOT_RELS,
            "xl/workbook.xml": X._WORKBOOK,
            "xl/_rels/workbook.xml.rels": X._WORKBOOK_RELS,
            "xl/sharedStrings.xml": X._SHARED,
            "xl/worksheets/sheet1.xml": X._SHEET1,
            "xl/worksheets/sheet2.xml": X._SHEET2,
        },
    )
    _make_zip(
        d / "Sheet.Ods",
        {
            "mimetype": "application/vnd.oasis.opendocument.spreadsheet",
            "content.xml": ODS_CONTENT,
        },
    )
    for decoy in ("Data.Zip.part", "Read.Md.orig", "Doc.PDF.txt",
                  "Memo.DocX.bak", "Book.XLSX.old", "Sheet.Ods.tmp"):
        (d / decoy).write_text("decoy")

    cases = [
        (scan_zip_tables, "archive", {"Data.Zip"}),
        (scan_markdown, "path", {"Read.Md"}),
        (scan_pdfs, "path", {"Doc.PDF"}),
        (scan_docx, "path", {"Memo.DocX"}),
        (scan_workbooks, "path", {"Book.XLSX", "Sheet.Ods"}),
    ]
    for scan, col, want in cases:
        df = scan(spark, str(d))
        rows = df.collect()
        assert {r[col].split("/")[-1] for r in rows} == want, scan.__name__
        if "error" in df.columns:
            assert all(r["error"] is None for r in rows), scan.__name__
        else:
            assert all(r["row_idx"] >= 0 for r in rows), scan.__name__


def test_fixed_width_custom_regex_special_pad(spark, tmp_path):
    """Review finding: regex-special pad chars must be escaped."""
    from ndl_core_data_pipeline_spark.sources.fixedwidth import parse_fixed_width

    lines = spark.createDataFrame([("^^ab^^^cd^",)], "value string")
    out = parse_fixed_width(
        lines, [FwColumn("a", 1, 4), FwColumn("b", 5, 6)], pad="^"
    ).collect()[0]
    assert out["a"] == "ab"
    assert out["b"] == "cd"


def test_every_listed_file_is_accounted_for(spark, tmp_path):
    """For every file scanner, the files it lists equal the files that
    produced rows plus the files it quarantined. Spark leaves zero-length
    files out of a file scan, so without `list_files` bringing them back a
    truncated upload vanished from both sides. The directory name holds a
    space, so the listing's URI form has to match the scan's path form;
    the listing is not recursive, so nothing under `nested/` is listed."""
    import os

    from ndl_core_data_pipeline_spark.sources.archives import (
        scan_zip_tables_quarantined,
    )
    from ndl_core_data_pipeline_spark.sources.docx import scan_docx
    from ndl_core_data_pipeline_spark.sources.markdown import scan_markdown
    from ndl_core_data_pipeline_spark.sources.pdfs import scan_pdfs
    from ndl_core_data_pipeline_spark.sources.spreadsheet import (
        scan_workbooks_quarantined,
    )

    from . import test_xlsx as X
    from .test_pdf import _mini_pdf

    d = tmp_path / "hostile dir"
    (d / "nested").mkdir(parents=True)
    _make_zip(d / "Good.Zip", {"t.csv": "x\n1\n"})
    _make_zip(d / "no_members.zip", {})
    _make_zip(d / "zero_member.zip", {"t.csv": ""})
    (d / "Good.Md").write_text("# hello\n\nbody")
    (d / "Good.PDF").write_bytes(_mini_pdf([b"Hello PDF"]))
    _make_docx(d / "Good.DocX")
    _make_zip(
        d / "Good.XLSX",
        {
            "[Content_Types].xml": X._CT,
            "_rels/.rels": X._ROOT_RELS,
            "xl/workbook.xml": X._WORKBOOK,
            "xl/_rels/workbook.xml.rels": X._WORKBOOK_RELS,
            "xl/sharedStrings.xml": X._SHARED,
            "xl/worksheets/sheet1.xml": X._SHEET1,
            "xl/worksheets/sheet2.xml": X._SHEET2,
        },
    )
    for ext in ("zip", "md", "pdf", "docx", "xlsx"):
        good = next(p for p in d.iterdir() if p.suffix.lower() == f".{ext}")
        data = good.read_bytes()
        (d / f"empty.{ext}").write_bytes(b"")
        (d / f"truncated.{ext}").write_bytes(data[: len(data) // 2])
        (d / f"wrong_magic.{ext}").write_bytes(b"\x89PNG\r\n\x1a\n\xff" + data[9:])
        (d / "nested" / f"inner.{ext}").write_bytes(data)

    def by_error(df, key):
        rows = df.select(key, "error").collect()
        ok = {r[0] for r in rows if r["error"] is None}
        bad = {r[0]: r["error"] for r in rows if r["error"] is not None}
        return ok, bad

    def split(scan, key):
        def run(spark, path):
            cells, errors = scan(spark, path)
            ok = {r[0] for r in cells.select(key).collect()}
            return ok, {r[0]: r[1][0] for r in errors.select(key, "cells").collect()}

        return run

    scanners = {
        "pdf": lambda s, p: by_error(scan_pdfs(s, p), "path"),
        "docx": lambda s, p: by_error(scan_docx(s, p), "path"),
        "md": lambda s, p: by_error(scan_markdown(s, p), "path"),
        "xlsx": split(scan_workbooks_quarantined, "path"),
        "zip": split(scan_zip_tables_quarantined, "archive"),
    }
    for ext, scan in scanners.items():
        listed = {p for p in os.listdir(d) if p.lower().endswith(f".{ext}")}
        ok, quarantined = scan(spark, str(d))
        names = lambda paths: {p.rsplit("/", 1)[-1] for p in paths}  # noqa: E731
        assert names(ok) | names(quarantined) == listed, ext
        assert any(n.startswith("Good.") for n in names(ok)), ext
        empty = [m for p, m in quarantined.items() if p.endswith(f"/empty.{ext}")]
        assert empty == ["ValueError: empty file"], ext
