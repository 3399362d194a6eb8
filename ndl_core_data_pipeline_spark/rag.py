"""RAG index build (SURVEY §3.3 build half): documents → chunks (explicit
chunk_index) → embeddings → searchable index.

Reference chain: process_text_chunks.py:26-37 (filter format=='text' →
RecursiveCharacterTextSplitter → SentenceTransformer encode → chunk
parquet + FAISS flat index). Here:

- chunking: the pure-Python recursive splitter (functions.chunk_text)
  via pandas UDF, exploded with posexplode so chunk order is an explicit
  column (the reference relies on physical row order — SURVEY §1.3
  flags that as non-portable to a distributed engine);
- embedding: mapInPandas batch encode, sentence-transformers when
  importable, hashed featurizer otherwise (classify.embed_texts);
- index: the chunk-embedding table itself (+ optional lsh_bucket column
  via search.lsh_index, computed by the engine's one LSH kernel,
  operators/vector._lsh_bands_arrow) — brute-force cosine is the exact
  tier, bucket pruning the approximate tier. FAISS's role (K5) is filled
  by the engine's own distributed top-k, not a driver-side index.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .classify import embed_texts, embedding_width
from .functions.udfs import chunk_text_udf

CHUNK_SCHEMA_SUFFIX = "chunk_index INT, chunk STRING"


def build_chunks(
    docs: DataFrame, id_col: str = "identifier", text_col: str = "text"
) -> DataFrame:
    """V1/W3: one row per chunk with explicit chunk_index."""
    return (
        docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("origin_identifier"),
            F.posexplode(chunk_text_udf(F.col(text_col))).alias(
                "chunk_index", "chunk"
            ),
        )
    )


def embed_chunks(chunks: DataFrame, text_col: str = "chunk") -> DataFrame:
    """V2: batch-encode chunk text into an embedding column (per-executor
    model init; Arrow batches)."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields)
    out_schema = f"{fields}, embedding ARRAY<FLOAT>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                vecs = embed_texts(list(pdf[text_col]))
                pdf = pdf.assign(embedding=[[float(x) for x in v] for v in vecs])
            else:
                pdf = pdf.assign(embedding=pd.Series([], dtype="object"))
            yield pdf

    return chunks.mapInPandas(encode, out_schema)


def build_index(docs: DataFrame, approximate: bool = False) -> DataFrame:
    """Full build: chunk → embed (→ LSH bucket when approximate). The
    result is the searchable table search.search()/ann_topk consume;
    chunk ids are (origin_identifier, chunk_index). Launches no job: the
    LSH planes are sized by the embedder's known width, not by a sniff."""
    chunks = build_chunks(docs)
    embedded = embed_chunks(chunks)
    embedded = embedded.withColumn(
        "chunk_id",
        F.xxhash64(F.col("origin_identifier"), F.col("chunk_index")),
    )
    if approximate:
        from .search import lsh_index

        embedded = lsh_index(embedded, dim=embedding_width())
    return embedded
