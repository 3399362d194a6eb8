"""Theme classification (SURVEY §2.8 V3/V4): cosine similarity of document
text against fixed theme prototype vectors; assign labels with cos > 0.3,
keep top 3 (resources/embedding/eu_theme_classifier.py:8-12,23-47).

The reference embeds with all-MiniLM-L6-v2; that model tier is optional
(sentence-transformers, import-gated in embed_texts). The default tier is
a deterministic hashed bag-of-words featurizer (hashing trick: token →
md5-derived bucket, L2-normalized counts) applied identically to themes
and documents — same cosine/threshold/top-k semantics, reproducible in
CI, swappable for the model without touching the plan.

Scale: theme matrix is tiny → broadcast; scoring is one map-side pandas
UDF batch matmul (the reference's own numpy batching, distributed);
top-3 via per-document sort of a THEMES-length array — no shuffle at all.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from .functions.udfs import _tier

DIM = 256
COSINE_THRESHOLD = 0.3  # eu_theme_classifier.py:10
TOP_K = 3  # eu_theme_classifier.py:12
_TOKEN_RE = re.compile(r"[a-z0-9]+")

# EU data themes (resources/embedding/eu_data_themes.py:1-28 — public
# EU open-data theme taxonomy codes with descriptive texts)
EU_THEMES = {
    "AGRI": "agriculture fisheries forestry food farming crops livestock",
    "ECON": "economy finance tax budget markets trade investment",
    "EDUC": "education culture sport schools universities training",
    "ENER": "energy electricity gas renewables fuel power",
    "ENVI": "environment climate pollution emissions nature biodiversity",
    "GOVE": "government public sector administration policy elections",
    "HEAL": "health medicine hospitals disease care wellbeing",
    "INTR": "international issues foreign affairs cooperation",
    "JUST": "justice legal system public safety crime courts police",
    "REGI": "regions cities municipalities urban planning housing",
    "SOCI": "population society welfare employment demographics",
    "TECH": "science technology research innovation data digital",
    "TRAN": "transport roads railways aviation shipping mobility",
}


def featurize(text: str) -> np.ndarray:
    """Deterministic hashed bag-of-words: md5(token) % DIM buckets,
    L2-normalized. Same function for themes and documents."""
    v = np.zeros(DIM, dtype=np.float64)
    for tok in _TOKEN_RE.findall((text or "").lower()):
        bucket = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % DIM
        v[bucket] += 1.0
    n = math.sqrt(float((v * v).sum()))
    return v / n if n else v


@_tier
def _sentence_transformer():
    """all-MiniLM-L6-v2 (process_text_chunks.py:11) — model load costs
    seconds, so it must never happen per batch."""
    from sentence_transformers import SentenceTransformer

    return SentenceTransformer("all-MiniLM-L6-v2")


def embed_texts(texts: list[str]) -> np.ndarray:
    """V2 model tier when sentence-transformers is importable; hashed
    featurizer otherwise. Returns (len(texts), dim) float array."""
    model = _sentence_transformer()
    if model is not None:
        return np.asarray(model.encode(texts))
    return np.stack([featurize(t) for t in texts])


def embedding_width() -> int:
    """Width of the vectors embed_texts returns, known without running it:
    the model's when sentence-transformers loads, DIM otherwise."""
    model = _sentence_transformer()
    return model.get_sentence_embedding_dimension() if model is not None else DIM


def theme_matrix(themes: dict[str, str] | None = None) -> tuple[list[str], np.ndarray]:
    themes = themes or EU_THEMES
    labels = list(themes)
    return labels, np.stack([featurize(t) for t in themes.values()])


def classify_themes(
    df: DataFrame,
    text_col: str = "text",
    themes: dict[str, str] | None = None,
    threshold: float = COSINE_THRESHOLD,
    top_k: int = TOP_K,
) -> DataFrame:
    """Adds predicted_themes: array<string> — labels with cosine above
    threshold, best-first, at most top_k (classifier batch semantics,
    eu_theme_classifier.py:50-69). Text capped at 2500 chars as in the
    reference (:77)."""
    labels, mat = theme_matrix(themes)

    @pandas_udf(ArrayType(StringType()))
    def predict(texts: pd.Series) -> pd.Series:
        docs = np.stack([featurize((t or "")[:2500]) for t in texts])
        sims = docs @ mat.T  # both sides L2-normalized → cosine
        out = []
        for row in sims:
            order = np.argsort(-row, kind="stable")[:top_k]
            out.append([labels[i] for i in order if row[i] > threshold])
        return pd.Series(out)

    return df.withColumn("predicted_themes", predict(F.col(text_col)))


def merge_tags(base: DataFrame, preds: DataFrame, key: str = "identifier") -> DataFrame:
    """J1 tag-merge (assets/processing/assets.py:543-558): left-join
    predictions, coalesce onto existing tags; broadcast the (small)
    prediction side when it fits."""
    p = preds.select(key, F.col("predicted_themes").alias("_pred"))
    return (
        base.join(F.broadcast(p), key, "left")
        .withColumn("tags", F.coalesce(F.col("_pred"), F.col("tags")))
        .drop("_pred")
    )
