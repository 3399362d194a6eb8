"""Grouped-map operators (SURVEY §2.13 grouped-map row):
groupBy().applyInPandas — one pandas frame per group, for semantics that
need the whole group in memory (per-document reassembly, per-group
normalization). The reference's analogs run as python loops per file/doc
(e.g. per-document chunk work, rag_search.py:50-65).

Keep groups bounded: the partition key must be high-cardinality and no
single group may exceed executor memory — the same constraint the
reference's per-file loops have per-process.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from ..io import load


def zscore_per_group(spark, sf_dir):
    """Per-source z-score of document length via the grouped-map surface.
    The SQL oracle is the window form — the grouped-map result must match
    the declarative computation exactly (ddof=0 population std, 0 when
    the group is constant).

    applyInARROW, not applyInPandas: the passthrough columns (doc_id,
    n_chars) are int64-with-NULLs, which the pandas funnel converts to
    float64 — a 2^63−1 cell rounds UP to 2^63 on INPUT (silent precision
    loss) and then overflows int64 on OUTPUT (Arrow unsafe-conversion
    crash; compound-extreme probe find). Arrow tables carry nullable
    int64 natively, so passthrough columns round-trip bit-exact; only
    the z-score math itself drops to float64 via pandas, identical to
    the previous in-UDF arithmetic."""
    import pyarrow as pa

    docs = load(spark, sf_dir, "documents")

    def normalize(tbl: pa.Table) -> pa.Table:
        x = tbl.column("n_chars").to_pandas().astype("float64")
        std = float(x.std(ddof=0))
        mean = float(x.mean())
        z = (x - mean) / std if std > 0 else x * 0.0
        return tbl.append_column("zscore", pa.array(z.round(6), pa.float64()))

    return docs.select("doc_id", "source", "n_chars").groupBy("source").applyInArrow(
        normalize, "doc_id BIGINT, source STRING, n_chars BIGINT, zscore DOUBLE"
    )


UDTF_CHUNK_WORDS = 40  # words per emitted chunk


def udtf_word_chunks(spark, sf_dir):
    """Real Python UDTF (Spark 4 `@udtf`, §2.13 surface beyond the
    posexplode analog): one input row fans out to N (chunk_idx,
    chunk_text) rows via a generator — the table-function form of the V1
    chunker. Arrow-batched like pandas UDFs; LATERAL-joined so the fan-out
    runs map-side with no shuffle. Tokenization reuses bpe.tokenize_words
    (ASCII \\s+, parity with the JVM split and the DuckDB oracle)."""
    from pyspark.sql.functions import udtf

    from .bpe import tokenize_words

    @udtf(returnType="chunk_idx BIGINT, chunk_text STRING")
    class WordChunks:
        def eval(self, text: str):
            ws = tokenize_words(text)
            for i in range(0, len(ws), UDTF_CHUNK_WORDS):
                yield (
                    i // UDTF_CHUNK_WORDS,
                    " ".join(ws[i : i + UDTF_CHUNK_WORDS]),
                )

    spark.udtf.register("word_chunks", WordChunks)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_v")
    return spark.sql(
        "SELECT doc_id, c.chunk_idx, c.chunk_text "
        "FROM docs_udtf_v, LATERAL word_chunks(text) AS c "
        "WHERE trim(text) <> ''"
    )


def register(reg):
    reg.add(
        "groupedmap_zscore",
        zscore_per_group,
# the NULL-n_chars branch comes FIRST: a row with no length has no
        # z-score (the pandas form propagates NaN through (x-mean)/std and
        # x*0.0 alike), but the bare ELSE 0.0 assigned such rows 0.0 in
        # zero-variance groups — which hot-key duplication mass-produces
        # (r16 compound sweep)
        "SELECT doc_id, source, n_chars, "
        "ROUND(CASE WHEN n_chars IS NULL THEN NULL "
        "WHEN stddev_pop(n_chars) OVER w > 0 "
        "THEN (n_chars - AVG(n_chars) OVER w) / (stddev_pop(n_chars) OVER w) "
        "ELSE 0.0 END, 6) AS zscore "
        "FROM documents WINDOW w AS (PARTITION BY source)",
    )
    # §2.13 Python UDTF chunker
    reg.add(
        "udtf_word_chunks",
        udtf_word_chunks,
        rf"""WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             w -> len(w) > 0) AS ws
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       array_to_string(ws[i * {UDTF_CHUNK_WORDS} + 1 :
                          (i + 1) * {UDTF_CHUNK_WORDS}], ' ') AS chunk_text
FROM t, UNNEST(range(0, CAST(ceil(len(ws) / {UDTF_CHUNK_WORDS}.0) AS BIGINT)))
     AS u(i)""",
    )
