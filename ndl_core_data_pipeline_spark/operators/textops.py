"""Text-analysis operators & scalar function library
(SURVEY §2.9 X1–X16; training-data-pipeline text analysis: language-ID,
quality scoring, token counting, fingerprinting).

Everything here is JVM-side expression work (regexp_*, md5, concat) — no
Python UDFs in the hot path, so the whole stage stays in codegen. The
model-backed tiers (tiktoken X5, langdetect X6) live in functions/udfs.py
as Arrow-batched pandas UDFs with these as their oracle-checkable tiers.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..io import load
from ._util import (
    TOKEN_PATTERN,
    content_md5,
    corpus_checkpoint,
    davg,
    hash48,
    rebalance_narrow_scan,
    sql_content_md5,
    sql_hash48,
    sql_jackson_json,
    sql_str_to_bigint,
    sql_words,
    word_ngrams,
    words,
)

# reference license map (assets/processing/assets.py:299-315): lowercase
# lookup with default "OGL-UK-3.0"
LICENSE_MAP = {
    "ogl-uk-3.0": "OGL-UK-3.0",
    "uk-ogl": "OGL-UK-3.0",
    "cc-by": "CC-BY-4.0",
    "cc by": "CC-BY-4.0",
    "cc-by-sa": "CC-BY-SA-4.0",
    "cc-zero": "CC0-1.0",
    "cc0": "CC0-1.0",
    "odc-pddl": "PDDL-1.0",
    "odc-by": "ODC-By-1.0",
    "odc-odbl": "ODbL-1.0",
    "mit": "MIT",
    "public domain": "CC0-1.0",
}
LICENSE_DEFAULT = "OGL-UK-3.0"


def normalize_license(col: Column) -> Column:
    """X7 (assets/processing/assets.py:299-315): lowercase 12-entry map,
    default OGL-UK-3.0 for unknown/missing keys."""
    norm = F.lower(F.trim(col))
    expr: Column = F.lit(LICENSE_DEFAULT)
    for k in reversed(list(LICENSE_MAP)):
        expr = F.when(norm == k, LICENSE_MAP[k]).otherwise(expr)
    return expr


EN_STOP = "the|and|of|to|a|in|is|it"
DE_STOP = "der|die|und|das|ein|ist"
ES_STOP = "el|la|de|los|que|es"
FR_STOP = "le|la|les|et|un|est"


def _words(docs, distinct_per_doc: bool = False):
    """The (doc_id, term) stream of the corpus: one explode of
    `_util.words`, the split every DuckDB oracle spells as
    `_util.sql_words` and bpe.tokenize_words mirrors with
    `_util.WS_ASCII_RE`. The term-level corpus statistics (tf-idf, BM25,
    entropy, postings) all read this stream."""
    arr = words(F.col("text"))
    if distinct_per_doc:
        arr = F.array_distinct(arr)
    return docs.select("doc_id", F.explode(arr).alias("term")).filter(
        F.length("term") > 0
    )


def word_count(spark, sf_dir):
    """X4: word_count = len(text.split()) (ref: assets/processing/assets.py:291).
    regexp_count of non-space runs gives split() semantics incl. empty-string→0."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias("word_count")
    )


def token_count_regex(spark, sf_dir):
    """X5 deterministic tier: BPE-ish token count — alpha runs, digit runs,
    and single punctuation marks each count as one token (the tiktoken tier
    is a pandas UDF; ref: resources/token_counter.py:12-37)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN)).cast("bigint").alias("token_count"),
    )


def _sql_in(pat: str) -> str:
    """Render a '|'-joined stoplist as a SQL IN list for the oracles."""
    return ", ".join(f"'{w}'" for w in pat.split("|"))


def _stop_count_words(words_col, pat: str):
    """Token-exact stopword count over a PRE-MATERIALIZED words array —
    r19 split of _stop_count so hot paths can evaluate the regex split
    once per row (guide §1.2: langid's single-projection form evaluated
    split+filter up to 10× per row — the four language counts plus every
    reference from the tie-break expression; HOFs are CodegenFallback,
    so codegen subexpression elimination never deduplicates them)."""
    stops = pat.split("|")
    return F.size(F.filter(words_col, lambda w: w.isin(stops))).cast("bigint")


def _stop_count(low_col, pat: str):
    """Stopword occurrences as TOKEN-EXACT matches over the canonical
    ASCII-\\s split, not a \\b(...)\\b regex: Java's \\b is Unicode-aware
    (é/漢 count as word chars) while RE2's is ASCII, so the regex form
    diverges between the engine and the DuckDB oracle on any multibyte
    neighbor — 'es' inside 'données' is a boundary match for RE2 but not
    for the JVM (round-14 unicode sweep). Token counting is identical on
    clean data (pure [a-z0-9 ] text) and consistent on both engines for
    the fixtures' whitespace repertoire. (The former VT residual —
    Java's \\s includes vertical tab U+000B, RE2's does not — is closed
    as of round 15: every oracle \\s+ is rewritten to the explicit JVM
    class at registry build (_util.guard_vt_whitespace) and the unicode
    fixture injects a VT-bearing snippet.)"""
    stops = pat.split("|")
    return F.size(
        F.filter(F.split(low_col, r"\s+"), lambda w: w.isin(stops))
    ).cast("bigint")


def langid_heuristic(spark, sf_dir):
    """X6 deterministic tier: stopword-profile language ID (langdetect tier is
    a pandas UDF; ref: assets/processing/assets.py:318-327). Ties resolve by
    fixed priority en>de>es>fr, mirroring the reference's 'en' fallback."""
    docs = load(spark, sf_dir, "documents")
    # r19 (guide §1.2): three-step projection — words array once, the
    # four filter+size counts once each, then the tie-break over the
    # count ATTRIBUTES. The former single-projection form re-evaluated
    # split+filter up to 10× per row (counts + every reference from
    # `guess`); CollapseProject's expensive-expression guard keeps the
    # steps separate. Identical output, ~4.5× faster at sf0.1 (see
    # OPTIMIZATION_r19.md).
    w = docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("w"))
    counts = w.select(
        "doc_id",
        *[
            _stop_count_words(F.col("w"), p).alias(n)
            for n, p in (
                ("n_en", EN_STOP),
                ("n_de", DE_STOP),
                ("n_es", ES_STOP),
                ("n_fr", FR_STOP),
            )
        ],
    )
    guess = (
        F.when(F.col("n_en") >= F.greatest("n_de", "n_es", "n_fr"), "en")
        .when(F.col("n_de") >= F.greatest("n_es", "n_fr"), "de")
        .when(F.col("n_es") >= F.col("n_fr"), "es")
        .otherwise("fr")
    )
    return counts.select(
        "doc_id", "n_en", "n_de", "n_es", "n_fr", guess.alias("lang_guess")
    )


def quality_score(spark, sf_dir):
    """Quality scoring for training-data curation: length, punctuation
    density, digit density, stopword ratio, mean word length + keep flag."""
    docs = load(spark, sf_dir, "documents")
    # r19 (guide §1.2): two-step projection. The stopword count is a
    # CodegenFallback HOF (split+filter), so codegen subexpression
    # elimination cannot deduplicate it; the former single projection
    # evaluated it 2-3× per row (stop_ratio output + the keep flag's
    # reference). Counts land in their own select, the ratios/flag read
    # the attributes. Identical output.
    base = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")).cast("bigint").alias("n_punct"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]")).cast("bigint").alias("n_digit"),
        _stop_count(F.lower(F.col("text")), EN_STOP).alias("n_stop"),
    )
    n_chars, n_words = F.col("n_chars"), F.col("n_words")
    punct_ratio = F.round(F.col("n_punct") / F.greatest(n_chars, F.lit(1)), 6)
    digit_ratio = F.round(F.col("n_digit") / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(F.col("n_stop") / F.greatest(n_words, F.lit(1)), 6)
    mean_wlen = F.round(
        (n_chars - n_words + 1) / F.greatest(n_words, F.lit(1)), 6
    )
    # when/otherwise, not a bool cast: a NULL-text doc must score
    # keep_flag 0 ("don't keep"), matching the oracle's CASE ... ELSE 0
    # (a bare boolean cast would propagate NULL instead)
    keep = F.when(
        (n_chars >= 200) & (punct_ratio < 0.2) & (stop_ratio > 0.0),
        F.lit(1),
    ).otherwise(F.lit(0)).cast("bigint")
    return base.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_wlen.alias("mean_word_len"),
        keep.alias("keep_flag"),
    )


def fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (deterministic content address; the dedup family keys on this)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", content_md5(F.col("text")).alias("fingerprint"))


WINNOW_W = 4  # winnowing window: hashes per selection window


def winnowing_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting by winnowing (Schleimer,
    Wilkerson & Aiken 2003 — the public MOSS algorithm): hash the word
    3-gram stream in document order, slide a WINNOW_W-hash window, keep
    each window's minimum, emit the distinct selected hashes. Two docs
    sharing a run of ≥ W+2 words share a fingerprint — a position-robust
    containment signal that md5-of-the-whole-doc (text_fingerprint)
    cannot give. Plan shape: per-row array expressions end-to-end (hash
    stream → sliding minima → per-doc distinct) then one explode — a
    map-only plan, embarrassingly parallel at any scale (the only
    exchange is the narrow-scan rebalance below, which never fires when
    the scan already has ≥ cores splits)."""
    # fingerprints need an identity: NULL doc_ids would merge into one
    # oracle window partition (sliding minima spanning doc boundaries)
    # while this per-row plan keeps them separate
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    # positional 3-gram shingles over the words array's OWN projection
    # (see word_ngrams) — winnowing needs the sequence, so no
    # array_distinct here (contrast the dedup shingles)
    shingles = word_ngrams(F.col("w"), 3)
    # the whole winnow folds into per-row array expressions: hash stream,
    # sliding-window minima, per-doc distinct — a pure map plan (an
    # explode → doc_id-window → distinct formulation costs a sort
    # exchange plus an aggregation exchange for the identical result).
    # The hash array is materialized in its OWN projection: higher-order
    # functions evaluate interpreted (no codegen subexpression
    # elimination), so referencing the md5-chain expression from inside
    # the window lambda would recompute the entire array per element —
    # O(n²) hashing. As a multiply-referenced non-cheap alias it survives
    # CollapseProject and is computed once per row.
    docs = rebalance_narrow_scan(docs, spark)
    hashed = docs.select("doc_id", words(F.col("text")).alias("w")).select(
        "doc_id", F.transform(shingles, hash48).alias("hs")
    )
    # size(NULL) is -1, and sequence(0, -2) DESCENDS — without the guard a
    # short doc's NULL hash array would explode into NULL fingerprints
    # instead of zero rows (the oracle drops those docs)
    fps = F.when(
        F.size("hs") > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("hs") - 1),
                lambda i: F.array_min(F.slice(F.col("hs"), i + 1, WINNOW_W)),
            )
        ),
    )
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


def repetition_signals(spark, sf_dir):
    """Repetition-based quality signals (Gopher, Rae et al. 2021 §A1.1:
    repetitious documents are low-quality training data). Per document:
    unique-word fraction, most-frequent-word fraction, fraction of word
    occurrences that are repeats, top-bigram character fraction
    (occurrences × bigram chars / total chars), and fraction of bigram
    occurrences whose bigram occurs more than once. Tie-break for the
    top term is (count, term) max — deterministic in both engines.

    r19 optimization (guide §2.4 / §1.2 step 1): the former plan ran TWO
    scan → split → explode → (doc, term) count → per-doc rollup passes
    (words, bigrams) joined on doc_id — the document scan and the regex
    split each executed twice. Both streams derive from the SAME word
    array, so one explode of a kind-tagged struct stream (k=0 word,
    k=1 bigram) feeds one (doc, k, term) count and ONE per-doc
    conditional rollup — 1 scan instead of 2, 2 keyed shuffles instead
    of 4, and the doc_id join disappears. The conditional aggregates
    reproduce the old left join's NULL semantics exactly: a doc with <2
    words has no k=1 rows, so every bigram aggregate is NULL, just as
    the missing bstats row was. A/B at sf0.1 (interleaved, 4 reps):
    1.005/1.177 → 0.755/0.888 s min/median (−25%), output
    bit-identical. Plans: text_repetition_signals_{before,after}.txt."""
    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    wa = F.col("wa")
    wstructs = F.transform(
        wa, lambda x: F.struct(F.lit(0).alias("k"), x.alias("term"))
    )
    # empty-array coalesce (NOT a bare when): concat(x, NULL) is NULL,
    # which would silently drop the doc's WORD rows too
    bstructs = F.coalesce(
        F.when(
            F.size(wa) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(wa) - 2),
                lambda i: F.struct(
                    F.lit(1).alias("k"),
                    F.concat_ws(
                        " ", F.element_at(wa, i + 1), F.element_at(wa, i + 2)
                    ).alias("term"),
                ),
            ),
        ),
        F.array().cast("array<struct<k:int,term:string>>"),
    )
    merged = (
        docs.select(
            "doc_id", F.length("text").alias("n_chars"), words(F.col("text")).alias("wa")
        )
        .select(
            "doc_id", "n_chars", F.explode(F.concat(wstructs, bstructs)).alias("e")
        )
        .select(
            "doc_id", "n_chars", F.col("e.k").alias("k"), F.col("e.term").alias("term")
        )
        # the length guard only ever fires on the [''] array of an
        # empty/whitespace-only text (split on trimmed text yields no
        # interior empties) — the old words-branch filter; bigram rows
        # pass untouched like the old bigram branch
        .filter((F.col("k") == 1) | (F.length("term") > 0))
    )
    counts = merged.groupBy("doc_id", "n_chars", "k", "term").agg(
        F.count("*").alias("cnt")
    )
    isw, isb = F.col("k") == 0, F.col("k") == 1
    stats = counts.groupBy("doc_id").agg(
        F.max("n_chars").alias("n_chars"),  # per-doc constant
        F.sum(F.when(isw, F.col("cnt"))).alias("n_words"),
        F.count(F.when(isw, 1)).alias("n_uniq"),
        F.max(F.when(isw, F.struct("cnt", F.col("term").alias("w")))).alias("top"),
        F.sum(
            F.when(isw, F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
        ).alias("dup_occ"),
        F.sum(F.when(isb, F.col("cnt"))).alias("n_bg"),
        F.max(F.when(isb, F.struct("cnt", F.col("term").alias("bg")))).alias(
            "topbg"
        ),
        F.sum(
            F.when(isb, F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
        ).alias("dup_bg_occ"),
    )
    return stats.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(F.col("n_uniq") / F.col("n_words"), 6).alias("uniq_word_frac"),
        F.round(F.col("top.cnt") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(F.col("dup_occ") / F.col("n_words"), 6).alias("dup_word_frac"),
        F.round(
            F.col("topbg.cnt") * F.length(F.col("topbg.bg")) / F.col("n_chars"), 6
        ).alias("top_bigram_char_frac"),
        F.round(F.col("dup_bg_occ") / F.col("n_bg"), 6).alias("dup_bigram_frac"),
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1 — public):
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' or '...' per word
GOPHER_MAX_BULLET_FRAC = 0.9  # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.3  # lines ending with '...'
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8  # words containing ≥1 alphabetic char

# DuckDB mirrors of gopher_metrics / gopher_keep_expr, shared by the flags
# oracle and the curation-funnel oracle
_NW = r"CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)"
_NONSPACE = r"CAST(len(regexp_extract_all(text, '\S')) AS BIGINT)"
_NSYM = r"(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')))"
_NLINES = "CAST(len(string_split(text, chr(10))) AS BIGINT)"
_NBULLET = r"len(regexp_extract_all(text, '(?m)^\s*[-*•]'))"
_NELLIP = r"len(regexp_extract_all(text, '(?m)\.\.\.$'))"
_NALPHA = r"CAST(len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS BIGINT)"
GOPHER_METRICS_SQL = f"""
  SELECT doc_id, source,
         {_NW} AS n_words,
         ROUND({_NONSPACE} / GREATEST({_NW}, 1), 6) AS mean_word_len,
         ROUND({_NSYM} / GREATEST({_NW}, 1), 6) AS symbol_ratio,
         ROUND({_NBULLET} / {_NLINES}, 6) AS bullet_frac,
         ROUND({_NELLIP} / {_NLINES}, 6) AS ellipsis_frac,
         ROUND({_NALPHA} / GREATEST({_NW}, 1), 6) AS alpha_word_frac
  FROM documents"""


def gopher_metrics(text):
    """The six Gopher rule metrics as Columns over a text column; shared
    by the flags query and the curation-funnel composition."""
    n_words = F.regexp_count(text, F.lit(r"\S+")).cast("bigint")
    nonspace = F.regexp_count(text, F.lit(r"\S")).cast("bigint")
    safe_words = F.greatest(n_words, F.lit(1))
    mean_wlen = F.round(nonspace / safe_words, 6)
    n_symbols = (
        F.regexp_count(text, F.lit("#")) + F.regexp_count(text, F.lit(r"\.\.\."))
    ).cast("bigint")
    symbol_ratio = F.round(n_symbols / safe_words, 6)
    n_lines = (F.regexp_count(text, F.lit("\n")) + 1).cast("bigint")
    bullet_frac = F.round(F.regexp_count(text, F.lit(r"(?m)^\s*[-*•]")) / n_lines, 6)
    ellipsis_frac = F.round(F.regexp_count(text, F.lit(r"(?m)\.\.\.$")) / n_lines, 6)
    alpha_words = F.regexp_count(text, F.lit(r"\S*[A-Za-z]\S*")).cast("bigint")
    alpha_frac = F.round(alpha_words / safe_words, 6)
    return n_words, mean_wlen, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac


def gopher_keep_expr(text):
    """Conjunction of the six Gopher rules as one boolean Column."""
    n_words, mean_wlen, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac = (
        gopher_metrics(text)
    )
    return (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wlen >= GOPHER_MIN_MEAN_WLEN)
        & (mean_wlen <= GOPHER_MAX_MEAN_WLEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
    )


def gopher_filters(spark, sf_dir):
    """Gopher rule-based quality flags (Rae et al. 2021 Table A1), one
    boolean per rule plus the conjunction — entirely map-side JVM regex
    counting, no shuffle, so it runs at scan speed at any scale. Rules:
    word count in [50, 100k]; mean word length in [3, 10]; symbol-to-word
    ratio ('#'/'...') ≤ 0.1; ≤ 90% of lines bullet-led; ≤ 30% of lines
    ellipsis-ended; ≥ 80% of words contain an alphabetic character."""
    docs = load(spark, sf_dir, "documents")
    n_words, mean_wlen, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac = (
        gopher_metrics(F.col("text"))
    )
    f_nwords = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    f_wlen = (mean_wlen >= GOPHER_MIN_MEAN_WLEN) & (mean_wlen <= GOPHER_MAX_MEAN_WLEN)
    f_symbol = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    f_bullet = bullet_frac <= GOPHER_MAX_BULLET_FRAC
    f_ellipsis = ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC
    f_alpha = alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_word_frac"),
        f_nwords.cast("bigint").alias("f_word_count"),
        f_wlen.cast("bigint").alias("f_mean_word_len"),
        f_symbol.cast("bigint").alias("f_symbol_ratio"),
        f_bullet.cast("bigint").alias("f_bullet_lines"),
        f_ellipsis.cast("bigint").alias("f_ellipsis_lines"),
        f_alpha.cast("bigint").alias("f_alpha_words"),
        (f_nwords & f_wlen & f_symbol & f_bullet & f_ellipsis & f_alpha)
        .cast("bigint")
        .alias("keep_gopher"),
    )


def search_text_compose(spark, sf_dir):
    """V6: search text = title + ' ' + description + ' ' + text[:500]
    (ref: create_lancedb_index.py:18-44)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("source"), F.col("lang"), F.substring(F.col("text"), 1, 500)
        ).alias("search_text"),
    )


def slugify(spark, sf_dir):
    """X8: safe filename slug — '/'→'_', whitespace→'_', drop <>:"|?* and
    control chars, collapse '_', strip leading/trailing '_'
    (ref: resources/api_client.py:85-103)."""
    docs = load(spark, sf_dir, "documents")
    s = F.substring(F.col("text"), 1, 40)
    s = F.regexp_replace(s, "/", "_")
    s = F.regexp_replace(s, r"\s+", "_")
    s = F.regexp_replace(s, r"[<>:\"\\|?*]", "")
    s = F.regexp_replace(s, "_+", "_")
    s = F.regexp_replace(s, "^_+|_+$", "")
    return docs.select("doc_id", s.alias("slug"))


def license_normalize(spark, sf_dir):
    """X7: license normalization via 12-entry lowercase map with default
    (ref: assets/processing/assets.py:299-315). Demonstrated over a key
    derived from the lang column."""
    docs = load(spark, sf_dir, "documents")
    raw_key = (
        F.when(F.col("lang") == "en", "CC-BY")
        .when(F.col("lang") == "fr", "cc by")
        .when(F.col("lang") == "de", "ODC-ODbL")
        .when(F.col("lang") == "es", "unknown-license")
        .otherwise(F.lit(None))
    )
    return docs.select(
        "doc_id", raw_key.alias("raw_license"), normalize_license(raw_key).alias("license")
    )


def date_format_iso(spark, sf_dir):
    """X1 (render): ISO-8601 UTC strings with +00:00 offset
    (ref: resources/time_utils.py:30-79 output format)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'+00:00'").alias(
            "iso_date"
        ),
    )


def date_parse_multi(spark, sf_dir):
    """X1 (parse): multi-format datetime parse via coalesce of to_timestamp
    candidates ('%d %b %Y' / '%d/%m/%Y' / '%Y-%m-%d' — ref formats at
    time_utils.py:30-79). Round-trips through rendered strings."""
    o = load(spark, sf_dir, "orders")
    rendered = F.date_format(F.col("o_orderdate"), "dd MMM yyyy")
    parsed = F.coalesce(
        F.try_to_timestamp(rendered, F.lit("dd/MM/yyyy")),
        F.try_to_timestamp(rendered, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(rendered, F.lit("dd MMM yyyy")),
    )
    return o.select("o_orderkey", rendered.alias("rendered"), parsed.alias("parsed"))


def regexp_extract_date(spark, sf_dir):
    """X11: filename-date extraction — regex \\d{4}-\\d{2}-\\d{2} from a path
    (ref: hansard parser.py:347-357)."""
    ev = load(spark, sf_dir, "events")
    fname = F.concat(
        F.lit("dump_"),
        F.date_format(F.col("ts"), "yyyy-MM-dd"),
        F.lit("_"),
        F.col("event_id").cast("string"),
        F.lit(".xml"),
    )
    return ev.select(
        "event_id",
        fname.alias("filename"),
        F.regexp_extract(fname, r"(\d{4}-\d{2}-\d{2})", 1).alias("file_date"),
    )


def json_extract(spark, sf_dir):
    """X12: extra-metadata JSON unpack — get_json_object on a JSON string
    column (ref: assets/processing/assets.py:205-210,294)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_value"),
    )


def numeric_clean(spark, sf_dir):
    """X3/X16: numeric cleaning — strip currency/thousands/percent tokens
    then cast (ref: csv_to_parquet.py:33-49,128-131; golden '166,012,276' →
    166012276). Dirty strings are composed from integer columns so both
    engines clean byte-identical inputs."""
    p = load(spark, sf_dir, "part")
    dirty_money = F.concat(
        F.lit("£"),
        F.col("p_size").cast("string"),
        F.lit(","),
        F.col("p_partkey").cast("string"),
        F.lit(".75"),
    )
    dirty_pct = F.concat(F.col("p_size").cast("string"), F.lit(".25 %"))
    clean = lambda c: F.regexp_replace(c, r"[£$€,%\s]", "").cast("double")
    return p.select(
        "p_partkey",
        dirty_money.alias("dirty_money"),
        clean(dirty_money).alias("clean_money"),
        dirty_pct.alias("dirty_pct"),
        clean(dirty_pct).alias("clean_pct"),
    )


# --------------------------------------------------- corpus statistics (r6)

TFIDF_TOPK = 3  # keywords emitted per document


def tfidf_topk(spark, sf_dir):
    """TF-IDF keyword extraction: per-document top-3 terms by
    tf · ln((N+1)/(df+1)) (smoothed idf). The corpus pass is two keyed
    aggregations (term frequency per doc, document frequency per term)
    joined on the term key, with the N scalar broadcast — tf-idf at
    100 TB is exactly this shape, no collect, no cross join. Ties break
    alphabetically for determinism."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    words = _words(docs)
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        words.distinct().groupBy("term").agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "term", "tf", "df", "tfidf")
    )


BIGRAM_SMOOTH_K = 0.5  # add-k smoothing mass


def bigram_nll(spark, sf_dir):
    """CCNet-style n-gram LM quality scoring, fully in-engine: train an
    add-k-smoothed word-bigram model on the corpus itself, then score
    every document by its average negative log-likelihood
    -ln((C(w1,w2)+k)/(C(w1)+k·V)) — high avg_nll = text the corpus LM
    finds improbable (the perplexity-filter signal, reference-free).
    Plan shape at 100 TB: bigram and unigram count tables are keyed
    aggregations; scoring joins the document bigrams back on those keys
    (equi-joins, broadcast V scalar) — the model IS a DataFrame, never
    driver-side state. Per-bigram nll is rounded to 4 dp BEFORE the
    decimal-cast average so sub-ulp libm differences between engines
    can't flip the order-independent sum."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.col("text")).alias("ws")).filter(F.size("ws") >= 2)
    uni = toks.select(F.explode("ws").alias("w1")).groupBy("w1").agg(
        F.count("*").alias("c1")
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                F.slice(F.col("ws"), 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # r19 (guide §5): bi — the document bigram stream — feeds BOTH the
    # model counts and the scoring join; each re-ran scan + split +
    # zip_with explode. Lazy checkpoint runs it once (interleaved A/B
    # at sf0.1: 1.50 → 1.41 s median; one saved corpus pass at scale).
    # Checkpointing `uni` as well was TRIED and measured WORSE
    # (1.96 → 2.42 s median) — its vocab-key join prefers the live
    # subtree — so uni stays re-derived.
    bi = corpus_checkpoint(bi)
    big = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    vocab = uni.agg(F.count("*").alias("v"))
    k = BIGRAM_SMOOTH_K
    nll = F.round(
        -F.log((F.col("c12") + k) / (F.col("c1") + k * F.col("v"))), 4
    )
    # r20 examined: folding the model into ONE type-scale nll table
    # (ntab = big ⋈ uni ⋈ v, stream joins ntab once) was TRIED and
    # measured WORSE at sf1 (interleaved A/B: old 5.95/7.27 vs ntab
    # 8.15/8.97 min/median, rows identical) — both stream joins are
    # already broadcast-hash probes, and chaining big⋈uni⋈vocab
    # serializes uni's two corpus passes inside one broadcast-build
    # chain, where the two-join form builds them as parallel jobs.
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
    )
    # NO final rounding: the decimal sum is exact and the double division
    # bit-identical in both engines, but ROUND of a result that lands
    # exactly on a 4-dp tie resolves differently (Spark HALF_UP vs
    # DuckDB's double rounding) — emitting the raw quotient sidesteps it
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        davg(F.col("nll"), "avg_nll", dec="decimal(25,4)"),
    )


def token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    low-entropy tail is boilerplate/template/keyword-stuffed text that
    every pretraining-quality filter cuts. Uses the identity
    H = ln(n) − (Σ c·ln c)/n over per-token counts c, so the corpus pass
    is explode → keyed count → per-doc sum: all JVM-side, partial-agg
    friendly, nothing wider than (doc_id, token, count) ever shuffles.
    Per-token ln contributions round to 6 dp and sum as decimals so the
    hash is order-independent across engines (_util.py rationale)."""
    docs = load(spark, sf_dir, "documents")
    words = _words(docs)
    counts = words.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    clnc = F.round(F.col("cnt") * F.log(F.col("cnt")), 6).cast("decimal(25,6)")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(clnc).cast("double").alias("sum_clnc"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log(F.col("n_tokens")) - F.col("sum_clnc") / F.col("n_tokens"), 6
        ).alias("token_entropy"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("window", "merge")  # fixed query; any term set works
BM25_TOPK = 15


def bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval for a fixed term query — the IR scoring
    standard (Robertson/Sparck Jones; the `rank_bm25` default in the
    reference's RAG stack family). Because the query-term set is small
    and fixed, the whole corpus pass collapses to ONE explode and ONE
    per-doc conditional aggregation (dl plus a tf column per query term);
    df/avgdl reduce that table to a single broadcast row. The first
    formulation derived doclen/stats/tf from a shared `words` subtree —
    Catalyst re-executes an uncached subtree per consumer, so the corpus
    was exploded three times (27 s vs ~2 s at sf0.1). Per-term scores
    round to 6 dp and sum as decimals (_util.py discipline).

    Identified docs only (the postings/contamination rule, r15): the
    engine's groupBy keeps a merged NULL-doc_id pseudo-doc while the
    oracle's JOIN doclen USING (doc_id) silently drops it, so its score
    entered one top-15 and not the other (r16 compound sweep). Identity
    on clean data (ids are never NULL there)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    docs = rebalance_narrow_scan(docs, spark)
    words = _words(docs)
    tf_cols = [
        F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    per_doc = words.groupBy("doc_id").agg(F.count("*").alias("dl"), *tf_cols)
    # r19 (guide §5): per_doc feeds both the corpus stats aggregate and
    # the scoring join, so the tokenize+explode+groupBy subtree ran
    # twice (6 parquet scans in the before plan). The lazy checkpoint
    # (post-aggregation doc-count rows, tiny next to the token stream —
    # the tfidf wtab pattern) makes it run once; interleaved A/B at
    # sf0.1 flat (0.97 vs 1.00 s median), the win is the saved corpus
    # tokenize at scale. Lazy, not eager: the eager barrier measured
    # +0.3 s median with no compensating gain.
    per_doc = per_doc.localCheckpoint(eager=False)
    stats_aggs = [
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ] + [
        F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
        for i in range(len(BM25_TERMS))
    ]
    # n_docs = COUNT(*) over documents (matching the oracle and classic
    # BM25), NOT per_doc's row count — an empty/whitespace-only document
    # is still a corpus member for idf purposes
    stats = per_doc.agg(*stats_aggs).crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    )
    joined = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        tf, df = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(1.0 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        s = F.round(
            idf
            * (tf * (BM25_K1 + 1))
            / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
            6,
        )
        return F.when(tf > 0, s.cast("decimal(25,6)")).otherwise(
            F.lit(0).cast("decimal(25,6)")
        )

    total = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        total = total + term_score(i)
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("bigint") for i in range(len(BM25_TERMS))
    )
    return (
        joined.select(
            "doc_id",
            total.cast("double").alias("bm25"),
            matched.alias("n_terms_matched"),
        )
        .filter(F.col("n_terms_matched") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


POSTINGS_MAX_DF = 50  # emit postings only for selective terms


def inverted_postings(spark, sf_dir):
    """Inverted-index build: term → sorted doc_id posting list (emitted as
    a comma string) for selective terms (df ≤ POSTINGS_MAX_DF — stop-word
    postings are the skew hazard of index builds; the cap is the same
    degenerate-bucket guard the dedup family uses). One explode → one
    distinct → one keyed collect; postings ship as compact sorted lists,
    and at 100 TB the term key partitions the index naturally.

    A posting needs an identity (the simhash rule): NULL doc_ids would
    merge into one pseudo-doc, where this plan's per-doc array_distinct
    counts each NULL row toward df separately but the oracle's cross-doc
    DISTINCT (doc_id, term) collapses them (df 16 vs 12 at 30% NULL
    density, NULLHEAVY_r15) — both engines drop NULL ids."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    words = _words(docs, distinct_per_doc=True)
    return (
        words.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("df") <= POSTINGS_MAX_DF)
    )


def date_arithmetic(spark, sf_dir):
    """X-family extension: interval arithmetic — date_add, month
    truncation, months_between, quarter extraction — over o_orderdate.
    All map-side JVM expressions; months_between uses whole-month
    semantics (day clamped) identical to DuckDB's datediff('month')."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_30d"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("month_start"),
        F.quarter("o_orderdate").alias("qtr"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("days_to_eoy"),
    )


def ordered_string_concat(spark, sf_dir):
    """Engine surface: ordered string aggregation (LISTAGG / string_agg
    — the reference's tag-union X14 emits arrays; this emits the ordered
    delimited form). Deterministic: elements sort before joining."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .groupBy("o_orderstatus")
        .agg(
            # a group whose priorities are ALL NULL must aggregate to
            # NULL like SQL string_agg, not '' (collect_list skips NULLs
            # and array_join('') masked the difference — r16 compound
            # sweep); a group holding a real empty string still yields ''
            F.when(
                F.size(F.collect_list("o_orderpriority")) > 0,
                F.array_join(
                    F.array_sort(F.collect_list("o_orderpriority")), ","
                ),
            ).alias("priorities")
        )
    )


def url_normalize(spark, sf_dir):
    """URL canonicalization — the dedup key-maker of every web-crawl
    pipeline (Common Crawl-style): lowercase scheme+host, strip default
    ports, drop utm_*/fbclid tracking params, collapse duplicate
    slashes, trim trailing slash and empty query. Inputs are synthesized
    deterministically from table columns (the func_numeric_clean
    pattern: the TRANSFORM is the operator under test, not the data).
    Pure regexp_replace chain — map-side, codegen, same RE2/Java-safe
    regex subset in both engines."""
    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM:443//docs//"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&utm_campaign=x&id="),
        F.col("doc_id").cast("string"),
        F.lit("&fbclid=abc"),
    )

    def normalize(col):
        # scheme/host/path handled separately so the slash-collapse never
        # needs a lookbehind (RE2 — the oracle engine — has none)
        scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z]+)://", 1))
        rest = F.regexp_replace(col, r"^[A-Za-z]+://", "")
        host = F.regexp_replace(
            F.lower(F.regexp_extract(rest, r"^([^/]+)", 1)), r":443$", ""
        )
        path = F.regexp_replace(rest, r"^[^/]+", "")
        path = F.regexp_replace(path, r"//+", "/")  # duplicate slashes
        path = F.regexp_replace(path, r"(utm_[A-Za-z]+|fbclid)=[^&]*&?", "")
        path = F.regexp_replace(path, r"[?&]+$", "")  # dangling separators
        path = F.regexp_replace(path, r"/$", "")  # trailing slash
        return F.concat(scheme, F.lit("://"), host, path)

    return docs.select(
        "doc_id", dirty.alias("dirty_url"), normalize(dirty).alias("canonical_url")
    )


# upper clamp for the data-driven repeat count in string_function_family
# (clean p_size tops out at 50; anything past this is an allocation bomb)
SIZE_BAR_MAX = 1000


def string_function_family(spark, sf_dir):
    """X-family completion: initcap / lpad / translate / levenshtein /
    repeat / overlay — the remaining scalar string surface, all
    JVM-codegen map-side. Levenshtein runs against the vowel-stripped
    form so the distance column is non-trivial.

    The repeat count is CLAMPED to [0, SIZE_BAR_MAX]: a data-driven
    repeat is an allocation bomb at any scale (an extreme-BIGINT p_size
    asks for a 2^62-char cell; even a plain INT_MAX one is a 2 GiB
    string per row), and Spark's implicit bigint→int cast on the count
    silently WRAPS (2^62 → 0 stars), which is a wrong answer, not just a
    slow one. Clamp + explicit NULL propagation keeps the op total and
    identical on both engines; identity on clean data (p_size ≤ 50)."""
    p = load(spark, sf_dir, "part")
    stripped = F.translate(F.col("p_name"), "aeiou", "")
    size = F.col("p_size").cast("bigint")
    # greatest/least both skip NULLs in Spark AND DuckDB (NULL → 0 stars),
    # so NULL must be propagated explicitly to keep size_bar NULL-in-NULL-out
    bar_len = F.when(
        size.isNull(), F.lit(None).cast("int")
    ).otherwise(F.least(F.greatest(size, F.lit(0)), F.lit(SIZE_BAR_MAX)).cast("int"))
    return p.select(
        "p_partkey",
        F.initcap("p_name").alias("title_name"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        stripped.alias("consonants"),
        F.levenshtein(F.col("p_name"), stripped).cast("bigint").alias("vowel_distance"),
        F.repeat(F.lit("*"), bar_len).alias("size_bar"),
    )


def variant_json_extract(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): parse events.props once
    into the binary VARIANT encoding, then typed path extraction —
    the shredded-JSON scan pattern that replaces per-access string
    re-parsing (get_json_object re-parses the string per call; VARIANT
    parses once and serves every path). try_parse_json null-safes
    malformed rows instead of failing the scan."""
    ev = load(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    # try_variant_get, not variant_get: the strict form throws
    # INVALID_VARIANT_CAST on a type-mismatched path even with ANSI off
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_value"),
        F.try_variant_get(v, "$.tag", "string").alias("tag_value"),
        v.isNull().alias("malformed"),
    )


_KWIC_TERM = "shuffle"
_KWIC_CTX = 24


def kwic_contexts(spark, sf_dir):
    """Keyword-in-context (concordance) extraction: every occurrence of a
    term with up to _KWIC_CTX characters of context either side — the
    training-data inspection primitive behind contamination review and
    prompt-template mining. regexp_extract_all does the leftmost
    non-overlapping scan in-row ('.' excludes newlines in BOTH Java and
    RE2, greedy bounded quantifiers agree), so the plan is scan → project
    → explode, no shuffle until the optional rollup — here rows come
    back directly with a per-doc occurrence index for determinism."""
    docs = load(spark, sf_dir, "documents")
    pat = f".{{0,{_KWIC_CTX}}}{_KWIC_TERM}.{{0,{_KWIC_CTX}}}"
    return docs.select(
        "doc_id",
        F.posexplode(
            F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)")
        ).alias("occ_idx", "context"),
    ).select("doc_id", F.col("occ_idx").cast("bigint").alias("occ_idx"), "context")


_KWIC_SQL = f"""
WITH hits AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '.{{0,{_KWIC_CTX}}}{_KWIC_TERM}.{{0,{_KWIC_CTX}}}', 0) AS ctxs
  FROM documents
)
SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS occ_idx, ctxs[u.i] AS context
FROM hits, UNNEST(range(1, len(ctxs) + 1)) AS u(i)
"""


# ---------------------------------------------------------------------------
# Word association: PMI co-occurrence mining

PMI_VOCAB = 100  # association candidates restricted to the top-df terms
PMI_MIN_COOC = 5


def cooccur_pmi(spark, sf_dir):
    """Pointwise-mutual-information word pairs: top-50 most associated
    term pairs co-occurring in documents, PMI = ln(n_ab·N / (n_a·n_b)).
    The quadratic pair step is bounded BEFORE it happens: candidates are
    restricted to the PMI_VOCAB highest-document-frequency terms
    (broadcast semi-join), so per-document pair generation is ≤ C(V,2)
    regardless of document length or corpus size — the same
    candidate-pruning discipline as the LSH/banded dedup families. All
    counts are exact integers; the single ln rounds via round6_det."""
    from ._util import round6_det

    # identified docs only: the per-row array_distinct counts a term
    # once per NULL-doc_id ROW while the oracle's DISTINCT (doc_id,
    # term) counts the merged NULL group once, skewing df
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    words = _words(docs, distinct_per_doc=True)
    n_docs = F.broadcast(
        words.agg(F.count_distinct("doc_id").cast("double").alias("n_total"))
    )
    df_t = words.groupBy("term").agg(F.count("*").alias("df"))
    # 100-row table with THREE consumers below (stream restriction +
    # the two df re-attach joins) — checkpointed so the corpus-wide df
    # aggregation behind it runs once
    vocab = df_t.orderBy(F.desc("df"), "term").limit(PMI_VOCAB).localCheckpoint(
        eager=False
    )
    wv = words.join(F.broadcast(vocab), "term")
    # r20 (guide §2.4, the mine_frequent_pairs discipline): pairs come
    # from an in-row combination expansion over each document's sorted
    # vocab-term set — never a doc-keyed SELF-JOIN (the old shape
    # shuffled the token stream twice by doc_id and exploded C(k,2)
    # rows through the join machinery). One groupBy(doc_id) collects
    # the ≤PMI_VOCAB-term basket, the expansion is map-side, and the
    # pair rollup map-side combines into ≤C(V,2) rows per task. wv now
    # has a single consumer, so the r19 checkpoint is gone. term_a <
    # term_b is exactly the sorted-array i<j enumeration (array_sort
    # uses the same binary string ordering as the old `<` filter); df
    # re-attaches from the broadcast vocab table afterwards, off the
    # pair-expansion path.
    baskets = wv.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("term")).alias("ts")
    )
    idx = F.sequence(F.lit(0), F.size("ts") - 1)
    pair_rows = baskets.filter(F.size("ts") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.slice(F.col("ts"), i + 2, F.size("ts") - (i + 1)),
                        lambda b: F.struct(
                            F.element_at(F.col("ts"), i + 1).alias("term_a"),
                            b.alias("term_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    pairs = (
        pair_rows.select(
            F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b")
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_COOC)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("n_total")
        / (F.col("df_a") * F.col("df_b"))
    )
    return (
        pairs.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(n_docs)
        .select("term_a", "term_b", "n_ab", round6_det(pmi).alias("pmi"))
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(50)
    )


_PMI_SQL = rf"""
WITH words AS (
  SELECT DISTINCT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents WHERE doc_id IS NOT NULL) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
nt AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_total FROM words),
dfs AS (SELECT term, COUNT(*) AS df FROM words GROUP BY term),
vocab AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT {PMI_VOCAB}),
wv AS (SELECT w.doc_id, w.term, v.df FROM words w JOIN vocab v USING (term)),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS n_ab
  FROM wv a JOIN wv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
)
SELECT term_a, term_b, n_ab,
       FLOOR(ln(CAST(n_ab AS DOUBLE) * (SELECT n_total FROM nt)
                / (df_a * df_b)) * 1000000.0 + 0.5) / 1000000.0 AS pmi
FROM pairs WHERE n_ab >= {PMI_MIN_COOC}
ORDER BY pmi DESC, term_a, term_b LIMIT 50
"""


# ---------------------------------------------------------------------------
# Sparse TF-IDF document similarity join

PAIR_MAX_DF = 50  # posting cap: pair work is bounded by Σ df² over kept terms
PAIR_MIN_COS = 0.25


def tfidf_doc_pairs(spark, sf_dir):
    """All-pairs document similarity over SPARSE tf-idf vectors — the
    lexical sibling of the embedding near-dup family: candidate pairs
    come from shared terms (an equi-join on the term key), never a doc×
    doc cross product, and the join is df-capped so pair work is bounded
    by Σ df² over selective terms (stop-mass terms carry ~zero idf
    anyway — dropping them IS the standard sparse-similarity pruning,
    and the cosine is defined over that capped vocabulary on both
    engines). Weights are 6-dp shared intermediates; dot products and
    norms accumulate as decimals, so the cosine hashes identically."""
    from ._util import round6_det

    docs = load(spark, sf_dir, "documents")
    words = _words(docs)
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # r19 (guide §2.4): dfreq derives from tf — the distinct (doc_id,
    # term) pairs ARE tf's group keys, so words.distinct() re-ran the
    # whole tokenize+explode and added a second (doc_id, term) exchange
    # for the same row set
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= PAIR_MAX_DF)
    )
    n_docs = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    # r19 (guide §2.4/§5): wtab feeds THREE consumers (norms + both
    # sides of the term self-join) and Catalyst re-executes an uncached
    # subtree per consumer — the committed before-plan re-tokenized the
    # corpus 12 times (12 parquet scans, 60 Exchanges). One
    # localCheckpoint of the post-aggregation (doc_id, term, w) rows —
    # the df-capped weighted postings, tiny next to the token stream —
    # collapses that to one evaluation: 12 scans → 1 construction pass,
    # 60 → 12 Exchanges (plans/r19/text_tfidf_doc_pairs_{before,after}).
    # Output verified bit-identical at sf0.01 + sf0.1. LAZY, not eager
    # (re-measured at sf1, 10× rows): the eager barrier serializes the
    # materialization into its own job and measured consistently slower
    # (sf1 A/B 2.48/2.81 lazy vs 2.71/3.05 eager min/median; the eager
    # form also lost to the UNcheckpointed tree at sf1, 2.49 vs 3.14 —
    # the 32-core box hides re-derived branches behind parallelism that
    # a barrier forfeits).
    wtab = (
        tf.join(dfreq, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "term",
            round6_det(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
            ).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    norms = wtab.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(27,10)")).cast("double")
        ).alias("norm")
    )
    a = wtab.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = wtab.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(27,10)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round6_det(F.col("dot") / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= PAIR_MIN_COS)
    )


_TFIDF_PAIRS_SQL = rf"""
WITH words AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dfreq AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY term
  HAVING COUNT(*) <= {PAIR_MAX_DF}
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
wtab AS (
  SELECT doc_id, term,
         FLOOR(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
               * 1000000.0 + 0.5) / 1000000.0 AS w
  FROM tf JOIN dfreq USING (term), nd
),
norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(w * w AS DECIMAL(27,10))) AS DOUBLE)) AS norm
  FROM wtab GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(a.w * b.w AS DECIMAL(27,10))) AS DOUBLE) AS dot
  FROM wtab a JOIN wtab b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       FLOOR(dot / (na.norm * nb.norm) * 1000000.0 + 0.5) / 1000000.0
         AS cos_sim
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
WHERE FLOOR(dot / (na.norm * nb.norm) * 1000000.0 + 0.5) / 1000000.0
      >= {PAIR_MIN_COS}
"""


# ---------------------------------------------------------------------------
# Corpus diagnostics: Zipf's-law fit


def text_zipf_fit(spark, sf_dir):
    """Zipf's-law diagnostic: OLS of ln(freq) on ln(rank) over the term
    frequency distribution — natural corpora fit slope ≈ −1, so the
    slope is a one-number corpus-health check (template/boilerplate
    corpora flatten it). The corpus collapses once to the vocab-sized
    frequency table; ranking uses the two-level decomposition below, so
    no stage sorts the whole vocabulary in one task. Moments accumulate
    as decimals per stats_linreg's discipline; per-row ln() is
    identical-input double math. Round-9 A/B at sf0.1: single global
    window 0.30-0.37 s vs two-level 0.45-0.51 s — the small constant
    cost buys removal of the only vocab-scale single-partition sort in
    the registry (WindowExec warned on every run), the trade
    distributed_prefix_sum already made for events."""
    from ._util import DEC_HI as dec, round6_det

    docs = load(spark, sf_dir, "documents")
    freq = _words(docs).groupBy("term").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    # Global rank over (n DESC, term ASC) WITHOUT a vocab-scale
    # single-partition window (the same posture as distributed_prefix_sum):
    # group terms by (n, first character) — string comparison orders by
    # leading code point first, so (n DESC, g ASC, term ASC) is exactly
    # the global order — rank locally per group (keyed window; the
    # first-char split fans the huge hapax n=1 bucket across the
    # alphabet), and add per-group offsets from a prefix scan over the
    # (n, g) COUNT histogram, which is orders of magnitude smaller than
    # the vocabulary. Ranks are bit-identical to the single-window form.
    grp = freq.withColumn("g", F.substring("term", 1, 1))
    hist = grp.groupBy("n", "g").agg(F.count("*").alias("cnt"))
    w_hist = W.orderBy(F.desc("n"), "g").rowsBetween(W.unboundedPreceding, -1)
    offs = hist.select(
        "n",
        "g",
        F.coalesce(F.sum("cnt").over(w_hist), F.lit(0)).alias("off"),
    )
    within = grp.withColumn(
        "wr", F.row_number().over(W.partitionBy("n", "g").orderBy("term"))
    )
    ranked = within.join(offs, ["n", "g"]).select(
        F.log((F.col("off") + F.col("wr")).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    return m.select(
        F.col("k").cast("bigint").alias("n_terms"),
        round6_det(slope).alias("zipf_slope"),
        round6_det(intercept).alias("zipf_intercept"),
    )


_ZIPF_SQL = rf"""
WITH words AS (
  SELECT t.term FROM (
    SELECT {sql_words('text')} AS ws
    FROM documents) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
freq AS (SELECT term, COUNT(*) AS n FROM words GROUP BY term),
ranked AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS DOUBLE)) AS x,
         ln(CAST(n AS DOUBLE)) AS y
  FROM freq
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(27,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE) AS sxx
  FROM ranked
)
SELECT CAST(k AS BIGINT) AS n_terms,
       FLOOR((k * sxy - sx * sy) / (k * sxx - sx * sx)
             * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope,
       FLOOR((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
             * 1000000.0 + 0.5) / 1000000.0 AS zipf_intercept
FROM m
"""


def register(reg):
    reg.add(
        "text_word_count",
        word_count,
        r"SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS word_count FROM documents",
    )
    reg.add(
        "text_token_count",
        token_count_regex,
        f"SELECT doc_id, len(regexp_extract_all(text, '{TOKEN_PATTERN}'))"
        " AS token_count FROM documents",
    )
    reg.add(
        "text_langid",
        langid_heuristic,
        rf"""
SELECT doc_id, n_en, n_de, n_es, n_fr,
  CASE WHEN n_en >= GREATEST(n_de, n_es, n_fr) THEN 'en'
       WHEN n_de >= GREATEST(n_es, n_fr) THEN 'de'
       WHEN n_es >= n_fr THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM (
  -- token-exact stopword counts (not \b regex): Java \b is
  -- Unicode-aware, RE2 \b is ASCII — see _stop_count
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ({_sql_in(EN_STOP)}))) AS INT) AS n_en,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ({_sql_in(DE_STOP)}))) AS INT) AS n_de,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ({_sql_in(ES_STOP)}))) AS INT) AS n_es,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ({_sql_in(FR_STOP)}))) AS INT) AS n_fr
  FROM documents) t
""",
    )
    reg.add(
        "text_quality_score",
        quality_score,
        rf"""
SELECT doc_id, n_chars_m, n_words,
  ROUND(n_punct / GREATEST(n_chars_m, 1), 6) AS punct_ratio,
  ROUND(n_digit / GREATEST(n_chars_m, 1), 6) AS digit_ratio,
  ROUND(n_stop / GREATEST(n_words, 1), 6) AS stop_ratio,
  ROUND((n_chars_m - n_words + 1) / GREATEST(n_words, 1), 6) AS mean_word_len,
  CASE WHEN n_chars_m >= 200
        AND ROUND(n_punct / GREATEST(n_chars_m, 1), 6) < 0.2
        AND ROUND(n_stop / GREATEST(n_words, 1), 6) > 0.0
       THEN 1 ELSE 0 END AS keep_flag
FROM (
  SELECT doc_id,
    LENGTH(text) AS n_chars_m,
    len(regexp_extract_all(text, '\S+')) AS n_words,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ({_sql_in(EN_STOP)}))) AS INT) AS n_stop
  FROM documents) t
""",
    )
    reg.add(
        "text_fingerprint",
        fingerprint,
        f"SELECT doc_id, {sql_content_md5('text')} AS fingerprint FROM documents",
    )
    reg.add(
        "text_search_compose",
        search_text_compose,
        "SELECT doc_id, concat_ws(' ', source, lang, substring(text, 1, 500)) AS search_text FROM documents",
    )
    reg.add(
        "text_slugify",
        slugify,
        r"""SELECT doc_id,
 regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
   substring(text, 1, 40), '/', '_', 'g'), '\s+', '_', 'g'),
   '[<>:"\\|?*]', '', 'g'), '_+', '_', 'g'), '^_+|_+$', '', 'g') AS slug
FROM documents""",
    )
    license_cases = " ".join(
        f"WHEN lower(raw_license) = '{k}' THEN '{v}'" for k, v in LICENSE_MAP.items()
    )
    reg.add(
        "func_license_normalize",
        license_normalize,
        f"""
SELECT doc_id, raw_license,
  CASE {license_cases} ELSE '{LICENSE_DEFAULT}' END AS license
FROM (
  SELECT doc_id,
    CASE WHEN lang='en' THEN 'CC-BY' WHEN lang='fr' THEN 'cc by'
         WHEN lang='de' THEN 'ODC-ODbL' WHEN lang='es' THEN 'unknown-license'
         ELSE NULL END AS raw_license
  FROM documents) t
""",
    )
    reg.add(
        "func_date_format_iso",
        date_format_iso,
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S+00:00') AS iso_date FROM orders",
    )
    reg.add(
        "func_date_parse_multi",
        date_parse_multi,
        "SELECT o_orderkey, strftime(o_orderdate, '%d %b %Y') AS rendered, "
        "COALESCE(TRY_CAST(try_strptime(strftime(o_orderdate, '%d %b %Y'), '%d/%m/%Y') AS TIMESTAMP), "
        "TRY_CAST(try_strptime(strftime(o_orderdate, '%d %b %Y'), '%Y-%m-%d') AS TIMESTAMP), "
        "TRY_CAST(try_strptime(strftime(o_orderdate, '%d %b %Y'), '%d %b %Y') AS TIMESTAMP)) AS parsed "
        "FROM orders",
    )
    reg.add(
        "func_regexp_extract_date",
        regexp_extract_date,
        r"""SELECT event_id,
 'dump_' || strftime(ts, '%Y-%m-%d') || '_' || CAST(event_id AS VARCHAR) || '.xml' AS filename,
 regexp_extract('dump_' || strftime(ts, '%Y-%m-%d') || '_' || CAST(event_id AS VARCHAR) || '.xml',
                '(\d{4}-\d{2}-\d{2})', 1) AS file_date
FROM events""",
    )
    reg.add(
        "func_json_extract",
        json_extract,
        # json_valid guard: DuckDB json_extract_string RAISES on malformed
        # input (e.g. '') where Spark's get_json_object yields NULL.
        # sql_str_to_bigint: a valid-JSON STRING value (unicode tier
        # injects {"k": "漢字"}) raises under DuckDB CAST where Spark's
        # non-ANSI cast yields NULL, and DuckDB TRY_CAST ROUNDS
        # fractional strings where Spark truncates; identity on clean
        # integer values. sql_jackson_json: Spark's Jackson parses raw
        # control chars inside JSON strings where yyjson rejects. The
        # escaped doc and the extracted string are each bound ONCE in
        # CTEs — inlining them re-ran replace+json_extract ~7x per row
        # (review finding).
        f"""WITH p AS (SELECT event_id, {sql_jackson_json()} AS _p FROM events),
 j AS (SELECT event_id, CASE WHEN json_valid(_p) THEN
       json_extract_string(_p, '$.k') END AS _k FROM p)
SELECT event_id, {sql_str_to_bigint("_k")} AS k_value FROM j""",
    )
    reg.add(
        "func_numeric_clean",
        numeric_clean,
        # TRY_CAST, not CAST: a NEGATIVE planted p_partkey (extreme-BIGINT
        # tier) composes a dirty string with an embedded '-' that survives
        # the token strip ('42-4611686018427387904.75') — Spark's non-ANSI
        # cast NULLs it, DuckDB CAST raises. TRY_CAST ≡ CAST wherever the
        # parse succeeds, so this is identity on every parseable value.
        r"""SELECT p_partkey,
 '£' || CAST(p_size AS VARCHAR) || ',' || CAST(p_partkey AS VARCHAR) || '.75' AS dirty_money,
 TRY_CAST(regexp_replace('£' || CAST(p_size AS VARCHAR) || ',' || CAST(p_partkey AS VARCHAR) || '.75', '[£$€,%\s]', '', 'g') AS DOUBLE) AS clean_money,
 CAST(p_size AS VARCHAR) || '.25 %' AS dirty_pct,
 TRY_CAST(regexp_replace(CAST(p_size AS VARCHAR) || '.25 %', '[£$€,%\s]', '', 'g') AS DOUBLE) AS clean_pct
FROM part""",
    )
    reg.add(
        "text_winnowing_fingerprints",
        winnowing_fingerprints,
        f"""WITH sh AS (
  SELECT doc_id, i AS pos,
         words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] AS shingle
  FROM (SELECT doc_id, {sql_words('text')} AS words
        FROM documents WHERE doc_id IS NOT NULL) w,
       UNNEST(range(0, len(words) - 2)) AS t(i)
  WHERE len(words) >= 3
),
hashed AS (
  SELECT doc_id, pos,
         {sql_hash48('shingle')} AS h
  FROM sh
),
wins AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM hashed
)
SELECT DISTINCT doc_id, fp FROM wins""",
    )
    reg.add(
        "text_repetition_signals",
        repetition_signals,
        rf"""WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, UNNEST({sql_words('text')}) AS w
    FROM documents) t
  WHERE LENGTH(w) > 0
),
wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY doc_id, w),
ws AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_uniq,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_occ
  FROM wc GROUP BY doc_id),
topw AS (
  SELECT doc_id, cnt, w,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w DESC) AS rn
  FROM wc),
bg AS (
  SELECT doc_id, LENGTH(text) AS n_chars, ws[i + 1] || ' ' || ws[i + 2] AS bg
  FROM (SELECT doc_id, text,
               {sql_words('text')} AS ws
        FROM documents) t,
       UNNEST(range(0, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2),
bgc AS (SELECT doc_id, n_chars, bg, COUNT(*) AS cnt
        FROM bg GROUP BY doc_id, n_chars, bg),
bs AS (
  SELECT doc_id, n_chars,
         CAST(SUM(cnt) AS BIGINT) AS n_bg,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_bg_occ
  FROM bgc GROUP BY doc_id, n_chars),
topb AS (
  SELECT doc_id, cnt, bg,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg DESC) AS rn
  FROM bgc)
SELECT w.doc_id, w.n_words,
       ROUND(w.n_uniq / w.n_words, 6) AS uniq_word_frac,
       ROUND(tw.cnt / w.n_words, 6) AS top_word_frac,
       ROUND(w.dup_occ / w.n_words, 6) AS dup_word_frac,
       ROUND(tb.cnt * LENGTH(tb.bg) / b.n_chars, 6) AS top_bigram_char_frac,
       ROUND(b.dup_bg_occ / b.n_bg, 6) AS dup_bigram_frac
FROM ws w
-- null-safe: Spark computes the top word IN-GROUP (max struct), so the
-- merged NULL-doc_id group still gets a value; a NULL-dropping join
-- here would lose it. The bs/topb joins mirror Spark's REAL (and
-- equally NULL-insensitive) left join and stay plain equality.
LEFT JOIN topw tw ON tw.doc_id IS NOT DISTINCT FROM w.doc_id AND tw.rn = 1
LEFT JOIN bs b ON b.doc_id = w.doc_id
LEFT JOIN topb tb ON tb.doc_id = w.doc_id AND tb.rn = 1""",
    )
    reg.add(
        "text_gopher_filters",
        gopher_filters,
        f"""WITH m AS ({GOPHER_METRICS_SQL})
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS BIGINT)
         AS f_word_count,
       CAST(mean_word_len BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
         AS BIGINT) AS f_mean_word_len,
       CAST(symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS BIGINT) AS f_symbol_ratio,
       CAST(bullet_frac <= {GOPHER_MAX_BULLET_FRAC} AS BIGINT) AS f_bullet_lines,
       CAST(ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC} AS BIGINT) AS f_ellipsis_lines,
       CAST(alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC} AS BIGINT) AS f_alpha_words,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
            AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}
            AND alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC} AS BIGINT)
         AS keep_gopher
FROM m""",
    )
    # corpus-statistics quality scoring
    reg.add(
        "text_tfidf_topk",
        tfidf_topk,
        rf"""WITH words AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df
          FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(tf * ln((n_docs + 1) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, rnk, term, tf, df, tfidf FROM ranked WHERE rnk <= 3""",
    )
    reg.add(
        "text_bigram_nll",
        bigram_nll,
        rf"""WITH toks AS (
  SELECT doc_id, {sql_words('text')} AS ws
  FROM documents
  WHERE len({sql_words('text')}) >= 2
),
uni AS (
  SELECT t.w1, COUNT(*) AS c1
  FROM toks, UNNEST(toks.ws) AS t(w1) GROUP BY t.w1
),
bi AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)
),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
vocab AS (SELECT COUNT(*) AS v FROM uni),
scored AS (
  SELECT doc_id,
         ROUND(-ln((c12 + {BIGRAM_SMOOTH_K}) / (c1 + {BIGRAM_SMOOTH_K} * v)), 4) AS nll
  FROM bi JOIN big USING (w1, w2) JOIN uni USING (w1), vocab
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(nll AS DECIMAL(25,4))) AS DOUBLE) / COUNT(nll) AS avg_nll
FROM scored GROUP BY doc_id""",
    )
    reg.add(
        "text_token_entropy",
        token_entropy,
        rf"""WITH words AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
counts AS (SELECT doc_id, term, COUNT(*) AS cnt FROM words GROUP BY doc_id, term)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
       ROUND(ln(SUM(cnt)) -
             CAST(SUM(CAST(ROUND(cnt * ln(cnt), 6) AS DECIMAL(25,6))) AS DOUBLE)
             / SUM(cnt), 6) AS token_entropy
FROM counts GROUP BY doc_id""",
    )
    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    reg.add(
        "text_bm25_topk",
        bm25_topk,
        rf"""WITH words AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents WHERE doc_id IS NOT NULL) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM doclen),
n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words
       WHERE term IN ({terms_in}) GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id,
    ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
          * (tf * ({BM25_K1} + 1))
          / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)),
          6) AS s
  FROM tf JOIN dfreq USING (term) JOIN doclen USING (doc_id), stats, n
)
SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE) AS bm25,
       COUNT(*) AS n_terms_matched
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}""",
    )
    reg.add(
        "search_inverted_postings",
        inverted_postings,
        rf"""WITH words AS (
  SELECT DISTINCT doc_id, t.term FROM (
    SELECT doc_id, {sql_words('text')} AS ws
    FROM documents WHERE doc_id IS NOT NULL) d, UNNEST(d.ws) AS t(term)
  WHERE len(t.term) > 0
)
SELECT term, COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM words GROUP BY term HAVING COUNT(*) <= {POSTINGS_MAX_DF}""",
    )
    reg.add(
        "func_date_arithmetic",
        date_arithmetic,
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, "
        "CAST(o_orderdate AS DATE) + 30 AS due_30d, "
        "CASE WHEN o_orderdate IS NULL THEN NULL ELSE "
        "CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) END AS month_start, "
        "CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr, "
        "CAST(DATE '1998-12-31' - CAST(o_orderdate AS DATE) AS BIGINT) AS days_to_eoy "
        "FROM orders",
    )
    # replace-after-upper: the JVM's FULL uppercase expands the ligature
    # code points ﬁ/ﬂ to FI/FL (unicode tier) while DuckDB's simple
    # mapping leaves them unchanged — post-substituting the SURVIVING
    # ligatures reproduces the engine; no other pool code point differs
    # under upper() and ASCII is untouched (identity on clean data)
    dirty_sql = (
        "'HTTPS://' || replace(replace(upper(source), 'ﬁ', 'FI'), 'ﬂ', 'FL')"
        " || '.Example.COM:443//docs//' || "
        "CAST(doc_id AS VARCHAR) || '/?utm_source=feed&utm_campaign=x&id=' || "
        "CAST(doc_id AS VARCHAR) || '&fbclid=abc'"
    )
    norm_sql = (
        "lower(regexp_extract({u}, '^([A-Za-z]+)://', 1)) || '://' || "
        "regexp_replace(lower(regexp_extract(regexp_replace({u}, '^[A-Za-z]+://', ''), '^([^/]+)', 1)), ':443$', '') || "
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace({u}, '^[A-Za-z]+://', ''), '^[^/]+', ''), "
        "'//+', '/', 'g'), '(utm_[A-Za-z]+|fbclid)=[^&]*&?', '', 'g'), "
        "'[?&]+$', ''), '/$', '')"
    )
    reg.add(
        "func_url_normalize",
        url_normalize,
        f"SELECT doc_id, {dirty_sql} AS dirty_url, "
        + norm_sql.format(u=f"({dirty_sql})")
        + " AS canonical_url FROM documents",
    )
    reg.add(
        "func_string_family",
        string_function_family,
        # DuckDB lacks initcap — emulated per word (upper head + lower
        # tail). The head substitutions mirror the JVM's TITLE-case of a
        # leading ligature (ﬁ→Fi, ﬂ→Fl, SpecialCasing.txt) which
        # DuckDB's simple upper() leaves unchanged; identity on ASCII.
        "SELECT p_partkey, "
        "array_to_string(list_transform(string_split(p_name, ' '), "
        "w -> replace(replace(upper(w[1]), 'ﬁ', 'Fi'), 'ﬂ', 'Fl') "
        "|| lower(w[2:])), ' ') AS title_name, "
        "lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key, "
        "translate(p_name, 'aeiou', '') AS consonants, "
        "CAST(levenshtein(p_name, translate(p_name, 'aeiou', '')) AS BIGINT) "
        "AS vowel_distance, "
        # clamped count, mirroring the engine: see string_function_family
        "CASE WHEN p_size IS NULL THEN NULL ELSE repeat('*', "
        f"CAST(LEAST(GREATEST(CAST(p_size AS BIGINT), 0), {SIZE_BAR_MAX}) AS INT)) "
        "END AS size_bar "
        "FROM part",
    )
    reg.add(
        "func_variant_json",
        variant_json_extract,
        # json_valid guards: DuckDB json_extract_string RAISES on
        # malformed input where Spark's try_parse_json null-safes it.
        # sql_str_to_bigint: string-valued k (unicode tier) raises under
        # CAST where Spark's non-ANSI cast yields NULL, and DuckDB
        # TRY_CAST rounds fractional strings where Spark truncates;
        # identity on clean ints. NO sql_jackson_json here, unlike the
        # get_json_object-backed oracles: the engine side is
        # try_parse_json (Variant), which is STRICT about raw control
        # chars exactly like yyjson (probed: NULL on raw-VT JSON where
        # get_json_object parses it), so bare props already agrees.
        # CTE-bound extract, computed once per row (review finding).
        """WITH j AS (SELECT event_id,
       CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS _k,
       CASE WHEN json_valid(props) THEN json_extract_string(props, '$.tag') END AS _tag,
       (props IS NULL OR NOT json_valid(props)) AS malformed FROM events)
SELECT event_id, """
        + sql_str_to_bigint("_k")
        + """ AS k_value,
       _tag AS tag_value, malformed FROM j""",
    )
    reg.add(
        "agg_ordered_string_concat",
        ordered_string_concat,
        "SELECT o_orderstatus, "
        "string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities "
        "FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) "
        "GROUP BY o_orderstatus",
    )
    reg.add("text_kwic_contexts", kwic_contexts, _KWIC_SQL)
    reg.add("text_cooccur_pmi", cooccur_pmi, _PMI_SQL)
    reg.add("text_tfidf_doc_pairs", tfidf_doc_pairs, _TFIDF_PAIRS_SQL)
    reg.add("text_zipf_fit", text_zipf_fit, _ZIPF_SQL)
