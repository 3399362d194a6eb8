"""Markdown ingestion with front-matter extraction (engine surface — the
de-facto format of docs sites, wikis, and code-adjacent corpora).

Two pure-Python pieces, both UDF-free on the Spark side until the
per-file fan-out:

- `split_front_matter`: the leading `---` fence block as a flat
  key→value dict (a documented SUBSET of YAML — scalar `key: value`
  lines only, which covers the title/date/tags/layout front matter that
  dominates real corpora; nested YAML stays in the raw block untouched).
- `markdown_to_text`: CommonMark-ish markup stripped to plain text with
  the same posture as the HTML extractor (`- ` list markers kept,
  links become `text (url)`, code-fence content kept verbatim, heading
  markers dropped).

`scan_markdown` runs one task per file (sources/files.py), with error
rows for undecodable files.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .files import fan_out, list_files

MD_TEXT_SCHEMA = (
    "path string, meta map<string,string>, n_chars bigint, "
    "text string, error string"
)

_FM_LINE = re.compile(r"^([A-Za-z0-9_.-]+)\s*:\s*(.*)$")


def split_front_matter(md: str) -> tuple[dict[str, str], str]:
    """(front-matter dict, body). Front matter = a leading `---` fence
    closed by `---`/`...`; scalar `key: value` lines are parsed (quotes
    stripped), anything else in the block is ignored. No fence → empty
    dict and the input unchanged."""
    if not md.startswith("---"):
        return {}, md
    lines = md.splitlines(keepends=True)
    if lines[0].strip() != "---":
        return {}, md
    meta: dict[str, str] = {}
    for i, line in enumerate(lines[1:], start=1):
        s = line.strip()
        if s in ("---", "..."):
            return meta, "".join(lines[i + 1 :])
        m = _FM_LINE.match(s)
        if m:
            v = m.group(2).strip()
            if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
                v = v[1:-1]
            meta[m.group(1)] = v
    return {}, md  # unclosed fence: treat as body, not front matter


_MD_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"!\[([^\]]*)\]\(([^)]*)\)"), r"\1"),  # images: alt text
    (re.compile(r"\[([^\]]+)\]\(([^)]+)\)"), r"\1 (\2)"),  # links, HTML-style
    (re.compile(r"^#{1,6}\s*", re.M), ""),  # heading markers
    (re.compile(r"^\s*[-*+]\s+", re.M), "- "),  # bullets → the `- ` marker
    (re.compile(r"^\s*\d+\.\s+", re.M), "- "),  # ordered lists too
    (re.compile(r"```[^\n]*\n?"), ""),  # fence lines (content kept)
    (re.compile(r"`([^`]*)`"), r"\1"),  # inline code
    (re.compile(r"\*\*([^*]+)\*\*"), r"\1"),  # bold
    (re.compile(r"\*([^*]+)\*"), r"\1"),  # italics
    (re.compile(r"__([^_]+)__"), r"\1"),
    (re.compile(r"^\s*>\s?", re.M), ""),  # blockquote markers
    (re.compile(r"^\s*([-*_]\s*){3,}$", re.M), ""),  # thematic breaks
]


def markdown_to_text(body: str) -> str:
    out = body
    for pat, repl in _MD_RULES:
        out = pat.sub(repl, out)
    # collapse 3+ blank lines to paragraph breaks, trim edges
    out = re.sub(r"\n{3,}", "\n\n", out)
    return out.strip()


def _markdown_rows(path: str, data: bytes):
    meta, body = split_front_matter(data.decode("utf-8", errors="strict"))
    text = markdown_to_text(body)
    return [(path, meta, len(text), text, None)]


def scan_markdown(spark: SparkSession, path: str) -> DataFrame:
    """Distributed markdown scan: (path, meta, n_chars, text, error)."""
    return fan_out(
        list_files(spark, path, ("md", "markdown")),
        MD_TEXT_SCHEMA,
        _markdown_rows,
        lambda path, data, err: [(path, {}, 0, "", err)],
    )
