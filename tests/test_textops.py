"""Tests for operators/textops.py: token entropy, BM25 against pure
Python, URL canonicalization, PMI, TF-IDF pairs and the Zipf fit."""

from __future__ import annotations

import math

import __spark_entry__ as contract

QUERIES = contract.queries()


def test_token_entropy_bounds_and_exact_cases(spark, sf_small):
    out = {r["doc_id"]: r for r in QUERIES["text_token_entropy"](spark, sf_small).collect()}
    assert out
    for r in out.values():
        assert r["n_tokens"] >= r["n_distinct"] >= 1
        # 0 <= H <= ln(n_distinct), with rounding slack
        assert -1e-6 <= r["token_entropy"] <= math.log(r["n_distinct"]) + 1e-6
    # crafted exact cases through the same operator
    from ndl_core_data_pipeline_spark.operators.textops import token_entropy
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "a a a a", "en", "s", 7),  # uniform single token: H = 0
                (2, "a b c d", "en", "s", 7),  # uniform 4 tokens: H = ln 4
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["doc_id"]: r["token_entropy"] for r in token_entropy(spark, d).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - round(math.log(4), 6)) < 1e-6


def test_bm25_matches_pure_python(spark, sf_small):
    """Recompute BM25 in plain Python from the collected corpus."""
    import math as _m

    from ndl_core_data_pipeline_spark.io import load
    from ndl_core_data_pipeline_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )

    docs = load(spark, sf_small, "documents").select("doc_id", "text").collect()
    toks = {r["doc_id"]: [w for w in r["text"].lower().strip().split() if w] for r in docs}
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    avgdl = sum(dl.values()) / len(dl)
    n_docs = len(docs)
    tf = {}
    for d, ws in toks.items():
        for t in BM25_TERMS:
            c = ws.count(t)
            if c:
                tf[(d, t)] = c
    df = {t: sum(1 for (d2, t2) in tf if t2 == t) for t in BM25_TERMS}
    scores = {}
    for (d, t), c in tf.items():
        idf = _m.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        s = round(idf * (c * (BM25_K1 + 1)) / (c + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl)), 6)
        scores[d] = scores.get(d, 0.0) + s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = [
        (r["doc_id"], r["bm25"])
        for r in QUERIES["text_bm25_topk"](spark, sf_small).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 1e-6


def test_url_normalize_idempotent(spark, sf_small):
    """Canonicalization must be a fixpoint: normalizing an already-
    canonical URL changes nothing (otherwise dedup keys drift across
    re-crawls)."""
    out = QUERIES["func_url_normalize"](spark, sf_small)
    import re

    for r in out.limit(50).collect():
        c = r["canonical_url"]
        # re-apply the same rules in Python (the chain is scheme/host/path)
        m = re.match(r"^([A-Za-z]+)://([^/]*)(.*)$", c)
        scheme, host, path = m.group(1), m.group(2), m.group(3)
        host2 = re.sub(r":443$", "", host.lower())
        path2 = re.sub(r"//+", "/", path)
        path2 = re.sub(r"(utm_[A-Za-z]+|fbclid)=[^&]*&?", "", path2)
        path2 = re.sub(r"[?&]+$", "", path2)
        path2 = re.sub(r"/$", "", path2)
        assert f"{scheme.lower()}://{host2}{path2}" == c


def test_pmi_pairs_respect_support_floor(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PMI_MIN_COOC,
        cooccur_pmi,
    )

    rows = cooccur_pmi(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_ab"] >= PMI_MIN_COOC
        assert r["term_a"] < r["term_b"]


def test_tfidf_pairs_cosine_bounds(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import (
        PAIR_MIN_COS,
        tfidf_doc_pairs,
    )

    rows = tfidf_doc_pairs(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert PAIR_MIN_COS <= r["cos_sim"] <= 1.0 + 1e-9


def test_zipf_slope_is_negative(spark, sf_small):
    from ndl_core_data_pipeline_spark.operators.textops import text_zipf_fit

    row = text_zipf_fit(spark, sf_small).collect()[0]
    assert row["n_terms"] > 10  # sf0.001 vocab is ~31 terms
    assert row["zipf_slope"] < 0  # frequency decreases with rank
