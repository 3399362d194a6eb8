"""Model-backed scalar functions as Arrow-batched pandas UDFs, each with a
deterministic fallback tier so the pipeline runs (and the oracle can check
the fallback) in environments without the optional model libraries.

Reference operators covered:
- X5 token count (resources/token_counter.py:12-37: tiktoken
  encoding_for_model falling back to cl100k_base; None/empty → 0)
- X6 language detection (assets/processing/assets.py:318-327: langdetect
  with DetectorFactory.seed=0, only for len>200, metadata fallback, 'en')
- P1 anonymization (resources/refine/anonymizer.py:13-44: presidio
  EMAIL_ADDRESS/PHONE_NUMBER → 'xxx@xxx.xx'/'xx-xxxx-xxxx', skip ≥1 MB)
- V1 chunking (assets/rag/process_text_chunks.py:12-13,39-60:
  RecursiveCharacterTextSplitter, size 800, overlap 100, separators
  ["\\n\\n", "\\n", " ", ""]) — pure-Python implementation of the
  recursive-split semantics, no langchain dependency
- S6 HTML text extraction (resources/convertors/html_extractor.py:55-162:
  bs4 tier; regex strip fallback)

Each optional library tier is resolved once per Python worker process by
a `_tier` loader, which returns the tier (module, model or engines) or
None when the library is absent; no other code imports an optional
library. The UDFs process Arrow batches — the distributed analog of the
reference's own batching (anonymizer.py:47-59, classifier batch 64).
"""

from __future__ import annotations

import functools
import re

import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructType

from ..operators._util import EMAIL_MASK, EMAIL_PATTERN, PHONE_MASK, TOKEN_PATTERN, UK_PHONE_PATTERN

# ---------------------------------------------------------------- helpers

ANONYMIZER_MAX_CHARS = 1_000_000  # anonymizer.py:29-31
LANGDETECT_MIN_CHARS = 200  # assets/processing/assets.py:139
CHUNK_SIZE = 800  # process_text_chunks.py:12
CHUNK_OVERLAP = 100  # process_text_chunks.py:13
SEPARATORS = ("\n\n", "\n", " ", "")

# the JVM regex tiers' patterns; re.ASCII gives \s and [0-9] Java's meaning
_TOKEN_FALLBACK_RE = re.compile(TOKEN_PATTERN, re.ASCII)
EMAIL_RE = re.compile(EMAIL_PATTERN, re.ASCII)
UK_PHONE_RE = re.compile(UK_PHONE_PATTERN, re.ASCII)


def _tier(load):
    """An optional library tier's loader: `load()` runs once per process
    and its result is kept; None when the library is absent."""

    @functools.cache
    def loader():
        try:
            return load()
        except ImportError:
            return None

    return loader


@_tier
def _tiktoken_encoder():
    import tiktoken

    try:
        return tiktoken.encoding_for_model("gpt-4o")
    except Exception:
        return tiktoken.get_encoding("cl100k_base")


def count_tokens(text: str | None) -> int:
    """X5: tiktoken when available, BPE-ish regex fallback; None/'' → 0."""
    if not text:
        return 0
    enc = _tiktoken_encoder()
    if enc is not None:
        return len(enc.encode(text))
    return len(_TOKEN_FALLBACK_RE.findall(text))


@_tier
def _langdetect():
    from langdetect import DetectorFactory, detect

    DetectorFactory.seed = 0  # reference pins the seed
    return detect


def detect_language(text: str | None, fallback: str | None = None) -> str:
    """X6: langdetect (seeded) for len>200, else metadata fallback, else
    'en'; stopword heuristic when langdetect is unavailable."""
    if text and len(text) > LANGDETECT_MIN_CHARS:
        detect = _langdetect()
        if detect is not None:
            try:
                return detect(text)
            except Exception:
                pass
        else:
            low = text.lower()
            scores = {
                "en": sum(low.count(f" {w} ") for w in ("the", "and", "of", "to")),
                "de": sum(low.count(f" {w} ") for w in ("der", "die", "und", "das")),
                "es": sum(low.count(f" {w} ") for w in ("el", "la", "los", "que")),
                "fr": sum(low.count(f" {w} ") for w in ("le", "les", "et", "un")),
            }
            best = max(scores, key=lambda k: (scores[k], k != "en"))
            if scores[best] > 0:
                return best
    return fallback or "en"


@_tier
def _presidio_engines():
    """(analyzer, anonymizer, operators). AnalyzerEngine construction loads
    spaCy models (seconds), so it must never happen per row."""
    from presidio_analyzer import AnalyzerEngine
    from presidio_anonymizer import AnonymizerEngine
    from presidio_anonymizer.entities import OperatorConfig

    return (
        AnalyzerEngine(),
        AnonymizerEngine(),
        {
            "EMAIL_ADDRESS": OperatorConfig("replace", {"new_value": EMAIL_MASK}),
            "PHONE_NUMBER": OperatorConfig("replace", {"new_value": PHONE_MASK}),
        },
    )


def anonymize_text(text: str | None) -> str | None:
    """P1: presidio tier when importable, else the regex tier; texts over
    1 MB pass through untouched (anonymizer.py:29-31)."""
    if not text:
        return text
    if len(text) >= ANONYMIZER_MAX_CHARS:
        return text
    engines = _presidio_engines()
    if engines is None:
        return UK_PHONE_RE.sub(PHONE_MASK, EMAIL_RE.sub(EMAIL_MASK, text))
    analyzer, anonymizer, operators = engines
    results = analyzer.analyze(
        text=text, entities=["EMAIL_ADDRESS", "PHONE_NUMBER"], language="en"
    )
    return anonymizer.anonymize(
        text=text, analyzer_results=results, operators=operators
    ).text


@pandas_udf(StringType())
def anonymize_text_udf(texts: pd.Series) -> pd.Series:
    return texts.map(anonymize_text)


# ---------------------------------------------------------------- chunking


def _split_on(text: str, separators: tuple[str, ...]) -> list[str]:
    """Recursive character splitting: split on the first separator that
    appears, recurse on fragments still longer than CHUNK_SIZE."""
    sep = separators[0]
    rest = separators[1:]
    if sep == "":
        return [text[i : i + CHUNK_SIZE] for i in range(0, len(text), CHUNK_SIZE)]
    parts = [p for p in text.split(sep) if p != ""]
    out: list[str] = []
    for p in parts:
        if len(p) > CHUNK_SIZE and rest:
            out.extend(_split_on(p, rest))
        else:
            out.append(p)
    return out


def chunk_text(text: str | None) -> list[str]:
    """V1: recursive character chunking, size 800 overlap 100, separator
    hierarchy paragraph → line → word → char. Fragments merge greedily up
    to CHUNK_SIZE; consecutive chunks share ~CHUNK_OVERLAP trailing chars."""
    if not text:
        return []
    frags = _split_on(text, SEPARATORS)
    chunks: list[str] = []
    cur = ""
    for frag in frags:
        candidate = (cur + " " + frag).strip() if cur else frag
        if len(candidate) <= CHUNK_SIZE:
            cur = candidate
            continue
        if cur:
            chunks.append(cur)
            tail = cur[-CHUNK_OVERLAP:]
            cur = (tail + " " + frag).strip()
            if len(cur) > CHUNK_SIZE:
                chunks.append(cur[:CHUNK_SIZE])
                cur = cur[CHUNK_SIZE - CHUNK_OVERLAP : CHUNK_SIZE] + cur[CHUNK_SIZE:]
        else:
            cur = frag[:CHUNK_SIZE]
    if cur:
        chunks.append(cur)
    return chunks


@pandas_udf(ArrayType(StringType()))
def chunk_text_udf(texts: pd.Series) -> pd.Series:
    return texts.map(chunk_text)


# ----------------------------------------------------------- html extract

_TAG_RE = re.compile(r"<(script|style|noscript)\b.*?</\1>", re.S | re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_ANCHOR_RE = re.compile(r'<a\b[^>]*href="([^"]+)"[^>]*>(.*?)</a>', re.S | re.I)
_LI_RE = re.compile(r"<li\b[^>]*>", re.I)
_BLOCK_RE = re.compile(r"</?(p|div|br|h[1-6]|tr|table|ul|ol)\b[^>]*>", re.I)
_ANYTAG_RE = re.compile(r"<[^>]+>")


@_tier
def _bs4():
    from bs4 import BeautifulSoup, Comment

    return BeautifulSoup, Comment


def extract_html_text(html: str | None) -> str | None:
    """S6: bs4 tier when importable; regex tier otherwise. Both preserve
    the reference's contract (html_extractor.py:55-162): drop script/style/
    noscript/comments, '- ' list markers, anchors keep ' (href)', block
    boundaries become newlines, whitespace normalized."""
    if html is None:
        return None
    bs4 = _bs4()
    if bs4 is not None:
        BeautifulSoup, Comment = bs4
        soup = BeautifulSoup(html, "html.parser")
        for t in soup(["script", "style", "noscript"]):
            t.decompose()
        for c in soup.find_all(string=lambda s: isinstance(s, Comment)):
            c.extract()
        for a in soup.find_all("a", href=True):
            a.append(f" ({a['href']})")
        for li in soup.find_all("li"):
            li.insert(0, "- ")
        text = soup.get_text(separator="\n")
    else:
        import html as html_mod

        s = _TAG_RE.sub(" ", html)
        s = _COMMENT_RE.sub(" ", s)
        s = _ANCHOR_RE.sub(lambda m: f"{m.group(2)} ({m.group(1)})", s)
        s = _LI_RE.sub("\n- ", s)
        s = _BLOCK_RE.sub("\n", s)
        s = _ANYTAG_RE.sub(" ", s)
        text = html_mod.unescape(s)
    # normalized lines; a run of blank lines becomes one
    text = "\n".join(re.sub(r"[ \t]+", " ", ln).strip() for ln in text.splitlines())
    return re.sub(r"\n{3,}", "\n\n", text).strip()


@pandas_udf(
    StructType()
    .add("text", StringType())
    .add("language", StringType())
    .add("token_count", IntegerType())
)
def refine_text_udf(texts: pd.Series, fallbacks: pd.Series) -> pd.DataFrame:
    """One crawled record's text pass (assets/processing/assets.py:196-197,
    318-327): residual HTML (both '<' and '>') is re-extracted, then the
    language and token count are taken from the result."""
    rows = []
    for text, fallback in zip(texts, fallbacks):
        if "<" in text and ">" in text:
            text = extract_html_text(text)
        rows.append((text, detect_language(text, fallback), count_tokens(text)))
    return pd.DataFrame(rows, columns=["text", "language", "token_count"])


# ------------------------------------------------------------ pdf extract

PDF_OCR_THRESHOLD = 200  # resources/convertors/pdf_extractor.py:12


@_tier
def _pymupdf():
    import fitz

    return fitz


@_tier
def _ocr_libs():
    import pdf2image
    import pytesseract
    from PIL import Image  # noqa: F401

    return pdf2image, pytesseract


def _pdf_ocr(payload: bytes) -> str:
    """OCR tier (pdf_extractor.py:15-53: pdf2image + pytesseract). Absent
    the rasterizer/OCR libs this returns '' and the short text layer
    stands."""
    libs = _ocr_libs()
    if libs is None:
        return ""
    import tempfile

    pdf2image, pytesseract = libs

    with tempfile.NamedTemporaryFile(suffix=".pdf") as tmp:
        tmp.write(payload)
        tmp.flush()
        images = pdf2image.convert_from_path(tmp.name)
    return "\n".join(pytesseract.image_to_string(img) for img in images).strip()


def extract_pdf_text(payload: bytes, ocr_threshold: int = PDF_OCR_THRESHOLD) -> str:
    """S5: PDF text extraction with OCR fallback (pdf_extractor.py:56-101).
    Tiers: PyMuPDF when importable → pure-Python content-stream parser.
    When the text layer yields fewer than `ocr_threshold` chars the OCR
    tier is consulted and appended when longer (pdf_extractor.py:94-98)."""
    fitz = _pymupdf()
    if fitz is not None:
        doc = fitz.open(stream=payload, filetype="pdf")
        try:
            text = "\n".join(page.get_text("text") for page in doc).strip()
        finally:
            doc.close()
    else:
        from .pdf import pdf_text

        text = pdf_text(payload).strip()
    if len(text) < ocr_threshold:
        ocr_text = _pdf_ocr(payload)
        if len(ocr_text) > len(text):
            return text + "\n\n" + ocr_text
    return text


# ---------------------------------------------------------------- renders


def iso8601(col: Column) -> Column:
    """Render a timestamp as the reference's ISO-8601 UTC string shape
    (time_utils.py `_format_dt_iso`: offset form; fractional seconds at
    full microsecond precision with trailing zeros trimmed, omitted when
    zero — .123000 → ".123", .000456 → ".000456", per
    tests/resources/test_time_utils.py:46-50). Session timezone is UTC
    (session.py / io.ensure_session_defaults), so date_format renders
    the UTC instant."""
    frac = F.regexp_replace(F.date_format(col, "SSSSSS"), "0+$", "")
    return F.concat(
        F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(frac != "", F.concat(F.lit("."), frac)).otherwise(F.lit("")),
        F.lit("+00:00"),
    )
