"""Canonical-record pipeline tests — golden behaviors ported from the
reference suite (SURVEY §5): license map + trailing-colon quirk, date
fallback chain, min-length filter, first-wins dedup, PII masking
("alice@example.com" → "xxx@xxx.xx", UK phones → "xx-xxxx-xxxx"),
token pin ("Hello, world!" = 4), chunker shape (800/100)."""

from __future__ import annotations

import json

import pytest

from ndl_core_data_pipeline_spark import pipeline
from ndl_core_data_pipeline_spark.functions.udfs import (
    anonymize_text,
    chunk_text,
    count_tokens,
    extract_html_text,
)

LONG = ("lorem ipsum dolor sit amet " * 10).strip()  # ~270 chars > 200


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        # data.gov.uk shape: real `license` key → mapped
        {
            "identifier": "a",
            "title": "T1",
            "source": "data.gov.uk",
            "license": "cc-by",
            "date": "2023-03-01",
            "format": "text",
            "text": LONG,
            "category": "env",
        },
        # gov.uk shape: quirk key `license:` → default OGL-UK-3.0
        {
            "identifier": "b",
            "title": "T2",
            "source": "gov.uk",
            "license:": "mit",
            "public_time": "2023-04-02T10:00:00",
            "format": "text",
            "text": LONG + " extra",
            "category": None,
        },
        # short text → dropped by min-length filter
        {
            "identifier": "c",
            "title": "T3",
            "source": "gov.uk",
            "license:": None,
            "format": "text",
            "text": "too short",
            "category": None,
        },
        # duplicate text of 'a' → dedup keeps 'a' (first by identifier)
        {
            "identifier": "d",
            "title": "T4",
            "source": "ons.gov.uk",
            "license": None,
            "format": "text",
            "text": LONG,
            "category": None,
        },
        # parquet row: empty text allowed through
        {
            "identifier": "e",
            "title": "T5",
            "source": "data.gov.uk",
            "license": "odc-odbl",
            "format": "parquet",
            "text": "",
            "data_file": "x.parquet",
            "category": "stats",
        },
    ]
    for r in rows:
        r.setdefault("license", None)
        r.setdefault("license:", None)
        r.setdefault("date", None)
        r.setdefault("public_time", None)
        r.setdefault("data_file", None)
    return spark.createDataFrame(rows)


def test_process_end_to_end(spark, raw):
    out = pipeline.process(raw)
    rows = {r["identifier"]: r for r in out.collect()}
    assert set(rows) == {"a", "b", "e"}  # c dropped (short), d dropped (dup)
    assert [f.name for f in out.schema.fields] == list(pipeline.CANONICAL_SCHEMA.names)


def test_license_quirk(spark, raw):
    rows = {r["identifier"]: r for r in pipeline.canonicalize(raw).collect()}
    assert rows["a"]["license"] == "CC-BY-4.0"  # real key → mapped
    assert rows["b"]["license"] == "OGL-UK-3.0"  # quirk key ignored → default
    assert rows["d"]["license"] == "OGL-UK-3.0"  # missing → default
    assert rows["e"]["license"] == "ODbL-1.0"


def test_date_fallback_chain(spark, raw):
    rows = {r["identifier"]: r for r in pipeline.canonicalize(raw).collect()}
    assert rows["a"]["date"].strftime("%Y-%m-%d") == "2023-03-01"
    assert rows["b"]["date"].strftime("%Y-%m-%d %H:%M") == "2023-04-02 10:00"
    assert rows["c"]["date"] is None


def test_counts_and_extra_metadata(spark, raw):
    rows = {r["identifier"]: r for r in pipeline.canonicalize(raw).collect()}
    assert rows["a"]["word_count"] == len(LONG.split())
    assert rows["e"]["word_count"] == 0
    extra = json.loads(rows["a"]["extra_metadata"])
    assert extra["category"] == "env"
    assert "license:" in json.loads(rows["b"]["extra_metadata"])  # quirk key packed


def test_anonymize_goldens():
    assert (
        anonymize_text("Contact: alice@example.com now")
        == "Contact: xxx@xxx.xx now"
    )
    assert anonymize_text("call 07123 456 789 now") == "call xx-xxxx-xxxx now"
    assert anonymize_text("call +44 7123 456789 now") == "call xx-xxxx-xxxx now"
    assert anonymize_text("") == ""
    big = "x" * 1_000_001
    assert anonymize_text(big) is big  # 1 MB cap passthrough


def test_token_count_pin():
    # reference pin (tests/resources/test_token_counter.py:18-21):
    # cl100k-family gives 4 tokens; the regex fallback also yields 4
    assert count_tokens("Hello, world!") == 4
    assert count_tokens("") == 0
    assert count_tokens(None) == 0


def test_chunker_shape():
    text = "\n\n".join(f"para {i} " + "word " * 150 for i in range(4))  # ~3.1k chars
    chunks = chunk_text(text)
    assert len(chunks) >= 4
    assert all(len(c) <= 800 for c in chunks)
    # consecutive chunks overlap: some suffix of chunk i seeds chunk i+1
    assert chunks[0][-40:] in chunks[1][:200]
    assert chunk_text("") == []
    assert chunk_text("short") == ["short"]


def test_html_extraction_contract():
    html = (
        "<html><head><style>p{}</style><script>x()</script></head><body>"
        "<!-- hidden --><p>First para</p><p>Second para</p>"
        '<ul><li>item one</li><li>item two</li></ul>'
        '<a href="https://x.test/doc">link text</a></body></html>'
    )
    text = extract_html_text(html)
    assert "<" not in text and ">" not in text
    assert "x()" not in text and "hidden" not in text
    assert "- item one" in text
    assert "link text (https://x.test/doc)" in text
    assert "First para" in text and "Second para" in text


def test_quarantine_splits_and_reports(spark):
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.quality import (
        error_stats,
        quarantine,
        validate,
    )

    rows = [
        (1, "text", "x" * 250),
        (2, "text", "short"),          # fails min_length
        (3, "exe", "y" * 250),         # fails format
        (4, "text", None),             # fails min_length (null-permissive) + non_null_text
    ]
    df = spark.createDataFrame(rows, "id BIGINT, format STRING, text STRING")
    checks = {
        "supported_format": F.col("format").isin("text", "parquet"),
        "min_length": F.length(F.col("text")) >= 200,
        "non_null_text": F.col("text").isNotNull(),
    }
    valid, errors = quarantine(df, checks)
    assert [r["id"] for r in valid.orderBy("id").collect()] == [1]
    err = {r["id"]: sorted(r["_errors"]) for r in errors.collect()}
    assert err == {
        2: ["min_length"],
        3: ["supported_format"],
        4: ["min_length", "non_null_text"],
    }
    stats = {r["check"]: r["count"] for r in error_stats(errors).collect()}
    assert stats == {"min_length": 2, "supported_format": 1, "non_null_text": 1}
    # validate() is non-destructive: row count preserved, marker added
    assert validate(df, checks).count() == 4


def test_embedded_html_reextracted(spark):
    # assets/processing/assets.py:196-197: text still containing markup is
    # re-run through the HTML extractor before counting
    html_text = "<p>Hello <b>brave</b> world</p><p>Second para</p>"
    rows = [
        {"identifier": "h1", "format": "text", "text": html_text},
        {"identifier": "h2", "format": "text", "text": "plain 2 < 3 text"},
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["identifier"]: r
        for r in pipeline.canonicalize(df).select(
            "identifier", "text", "word_count"
        ).collect()
    }
    assert "<p>" not in out["h1"]["text"]
    assert "Hello brave world" in out["h1"]["text"].replace("\n", " ")
    assert out["h1"]["word_count"] == 5
    # a lone '<' without '>' is NOT markup — text passes through untouched
    assert out["h2"]["text"] == "plain 2 < 3 text"


def test_process_plan_has_one_python_pass_each_side_of_the_dedup_shuffle(raw):
    """canonicalize's text pass (markup re-extraction, language, tokens)
    is one ArrowEvalPython below the dedup Exchange, and anonymize the
    one above it: no chained Python nodes, one worker per task."""
    from ndl_core_data_pipeline_spark.plans import explain_formatted

    tree = explain_formatted(pipeline.process(raw)).split("\n\n", 1)[0]
    above, below = tree.split("Exchange", 1)
    assert above.count("ArrowEvalPython") == 1, tree
    assert below.count("ArrowEvalPython") == 1, tree
