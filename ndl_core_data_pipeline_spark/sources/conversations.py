"""Hansard-style conversation parsing (SURVEY §2.1 S8, §2.6 W4).

The reference parses parliamentary XML (speech and question/answer
grammars) and groups utterances into conversations: a new conversation
starts at each 'Start Question' element; speakers accumulate in
first-encounter order; segments join with the ' \\p ' separator
(assets/hansard_parliament_uk/parser.py:94-152,203-252 — start marker
:203-217, speaker list :236-246, separator :242-246).

Spark shape: XML payloads arrive as (path, content) rows with binary
content — e.g. from sources.files.list_files — and parse one file at a
time with stdlib xml.etree in one Python stage (sources/files.fan_out,
no shuffle); the conversation GROUPING runs as the W4 window
sessionization over the exploded utterances, so the stateful scan is
per-document and scales with documents, not with the corpus.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, Window as W, functions as F

from .files import fan_out

SEPARATOR = " \\p "  # parser.py:242-246 (literal backslash-p)

UTTERANCE_SCHEMA = (
    "doc_path STRING, seq INT, utterance_type STRING, speaker STRING, text STRING"
)


def parse_utterances(xml_payload: str, doc_path: str = "") -> list[dict]:
    """One XML document → ordered utterance rows. Recognizes the two
    reference grammars: <speech speaker=...> bodies and <ques>/<reply>
    pairs; <speech type='Start Question'> opens a new conversation."""
    try:
        root = ET.fromstring(xml_payload)
    except ET.ParseError:
        return []
    rows: list[dict] = []
    seq = 0
    for el in root.iter():
        if el.tag not in ("speech", "ques", "reply"):
            continue
        text = " ".join(t.strip() for t in el.itertext() if t.strip())
        speaker = el.get("speaker") or el.get("speakername") or ""
        utype = el.get("type") or ("Start Question" if el.tag == "ques" else el.tag)
        rows.append(
            {
                "doc_path": doc_path,
                "seq": seq,
                "utterance_type": utype,
                "speaker": speaker,
                "text": text,
            }
        )
        seq += 1
    return rows


def _utterance_rows(path: str, data: bytes):
    # parse_utterances builds each dict in UTTERANCE_SCHEMA column order
    payload = data.decode("utf-8", errors="replace")
    return [tuple(r.values()) for r in parse_utterances(payload, path)]


def utterances_from_xml(files: DataFrame) -> DataFrame:
    """(path, content) rows → utterance rows (map-only)."""
    return fan_out(files, UTTERANCE_SCHEMA, _utterance_rows)


def group_conversations(utterances: DataFrame) -> DataFrame:
    """W4: running-sum sessionization — conversation_id increments at each
    'Start Question'; per conversation emit ordered-distinct speakers and
    the ' \\p '-joined text (parser.py:217-252). Partitioned by document,
    so state never crosses a doc boundary."""
    w = W.partitionBy("doc_path").orderBy("seq")
    is_start = F.when(
        (F.col("utterance_type") == "Start Question") | (F.col("seq") == 0), 1
    ).otherwise(0)
    conv = utterances.withColumn(
        "conversation_id",
        F.sum(is_start).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("seq", "speaker", "text"))
    )
    return (
        conv.groupBy("doc_path", "conversation_id")
        .agg(
            F.array_distinct(
                F.filter(
                    F.transform(ordered, lambda x: x["speaker"]),
                    lambda s: F.length(s) > 0,
                )
            ).alias("speakers"),
            F.array_join(
                F.filter(
                    F.transform(ordered, lambda x: x["text"]), lambda t: F.length(t) > 0
                ),
                SEPARATOR,
            ).alias("text"),
            F.count("*").cast("int").alias("n_utterances"),
        )
    )


def conversations_from_xml(files: DataFrame) -> DataFrame:
    """S8 end-to-end: XML file rows → conversation records."""
    return group_conversations(utterances_from_xml(files))
