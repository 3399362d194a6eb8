"""PII anonymization operators — regex tier (SURVEY §2.10 P1/P2).

The reference anonymizes EMAIL_ADDRESS and PHONE_NUMBER entities with
presidio, replacing them with the literals 'xxx@xxx.xx' and 'xx-xxxx-xxxx'
(resources/refine/anonymizer.py:13-44), applied only where
format=='text' AND text IS NOT NULL in batches of 100
(anonymizer.py:47-71). The presidio tier lives in functions/udfs.py
(import-gated pandas UDF); this module is the deterministic, oracle-
checkable regex tier — pure JVM regexp_replace, whole-stage codegen,
no Python in the loop. At 100 TB this is a map-only stage: no shuffle.

The documents testdata carries no real PII, so the queries first weave a
deterministic email/phone into each row (from doc_id) and then strip it —
both engines see byte-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# UK mobile shapes the reference's tests pin: "07123 456 789", "+44 7123 456789"
UK_PHONE_RE = r"(\+44[ -]?7[0-9]{3}|07[0-9]{3})[ -]?[0-9]{3}[ -]?[0-9]{3}"
EMAIL_MASK = "xxx@xxx.xx"
PHONE_MASK = "xx-xxxx-xxxx"


def _with_pii(docs):
    """Deterministic PII-bearing text: append a contact line derived from
    doc_id so the corpus exercises both entity shapes."""
    contact = F.concat(
        F.substring(F.col("text"), 1, 80),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.co.uk or 07123 456 7"),
        F.lpad(F.pmod(F.col("doc_id"), 100).cast("string"), 2, "0"),
        F.lit(" today."),
    )
    return docs.select("doc_id", "lang", contact.alias("pii_text"))


def anonymize_regex(spark, sf_dir):
    """P1 regex tier: mask emails then UK phone numbers with the reference's
    literal replacements (ref: resources/refine/anonymizer.py:20-27 operators
    config)."""
    d = _with_pii(load(spark, sf_dir, "documents"))
    masked = F.regexp_replace(
        F.regexp_replace(F.col("pii_text"), EMAIL_RE, EMAIL_MASK),
        UK_PHONE_RE,
        PHONE_MASK,
    )
    return d.select("doc_id", "pii_text", masked.alias("anon_text"))


def masked_update(spark, sf_dir):
    """P2: conditional in-place update — anonymize only rows matching the
    mask predicate, pass others through untouched (ref: anonymizer.py:47-71,
    format=='text' & notna gate; here the gate is lang=='en')."""
    d = _with_pii(load(spark, sf_dir, "documents"))
    anon = F.regexp_replace(
        F.regexp_replace(F.col("pii_text"), EMAIL_RE, EMAIL_MASK),
        UK_PHONE_RE,
        PHONE_MASK,
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", anon).otherwise(F.col("pii_text")).alias("text"),
        (F.col("lang") == "en").cast("int").alias("was_masked"),
    )


def pii_density(spark, sf_dir):
    """PII density scoring: per-doc entity counts + matches per 1k chars
    — the quality signal pipelines threshold on to drop PII-heavy docs
    before training. Pure map-side regex counting (regexp_extract_all
    fused into the scan stage), no Python, no shuffle."""
    d = _with_pii(load(spark, sf_dir, "documents"))
    n_email = F.size(
        F.regexp_extract_all(F.col("pii_text"), F.lit(EMAIL_RE), F.lit(0))
    )
    n_phone = F.size(
        F.regexp_extract_all(F.col("pii_text"), F.lit(UK_PHONE_RE), F.lit(0))
    )
    per_kchar = F.round(
        (n_email + n_phone) * F.lit(1000.0) / F.length("pii_text"), 6
    )
    return d.select(
        "doc_id",
        n_email.cast("bigint").alias("n_email"),
        n_phone.cast("bigint").alias("n_phone"),
        per_kchar.alias("pii_per_kchar"),
    )


def _sql_with_pii() -> str:
    # ((x % 100) + 100) % 100 mirrors the engine's pmod: DuckDB's % keeps
    # the dividend's sign, so a NEGATIVE doc_id (extreme-BIGINT axis)
    # would compose '07123 456 7-3' — a different synthetic INPUT than
    # the engine's, not a masking divergence. Identity for doc_id >= 0.
    return (
        "SELECT doc_id, lang, "
        "substring(text, 1, 80) || ' Contact: user' || CAST(doc_id AS VARCHAR) "
        "|| '@example.co.uk or 07123 456 7' "
        "|| lpad(CAST(((doc_id % 100) + 100) % 100 AS VARCHAR), 2, '0') "
        "|| ' today.' AS pii_text FROM documents"
    )


def _sql_mask(col: str) -> str:
    return (
        f"regexp_replace(regexp_replace({col}, '{EMAIL_RE}', '{EMAIL_MASK}', 'g'), "
        f"'{UK_PHONE_RE}', '{PHONE_MASK}', 'g')"
    )


K_ANON = 5  # minimum group size for quasi-identifier combinations


def k_anonymity_report(spark, sf_dir):
    """k-anonymity audit (P-family extension): customers grouped by their
    quasi-identifier combination (nation × market segment); combinations
    with fewer than K_ANON members re-identify individuals and are
    flagged. One keyed count — the shuffle carries (qi-combo, count)
    rows only; the flagged set is what a release gate would suppress or
    generalize."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < K_ANON).alias("at_risk"),
        )
    )


def register(reg):
    reg.add(
        "pii_anonymize_regex",
        anonymize_regex,
        f"SELECT doc_id, pii_text, {_sql_mask('pii_text')} AS anon_text "
        f"FROM ({_sql_with_pii()}) t",
    )
    reg.add(
        "pii_density",
        pii_density,
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS BIGINT) AS n_email, "
        f"CAST(len(regexp_extract_all(pii_text, '{UK_PHONE_RE}')) AS BIGINT) AS n_phone, "
        f"ROUND((len(regexp_extract_all(pii_text, '{EMAIL_RE}')) "
        f"+ len(regexp_extract_all(pii_text, '{UK_PHONE_RE}'))) * 1000.0 "
        "/ length(pii_text), 6) AS pii_per_kchar "
        f"FROM ({_sql_with_pii()}) t",
    )
    reg.add(
        "pii_masked_update",
        masked_update,
        "SELECT doc_id, lang, "
        f"CASE WHEN lang = 'en' THEN {_sql_mask('pii_text')} ELSE pii_text END AS text, "
        "CAST(lang = 'en' AS INT) AS was_masked "
        f"FROM ({_sql_with_pii()}) t",
    )
    # k-anonymity audit
    reg.add(
        "pii_k_anonymity",
        k_anonymity_report,
        f"SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size, "
        f"COUNT(*) < {K_ANON} AS at_risk "
        "FROM customer GROUP BY c_nationkey, c_mktsegment",
    )
