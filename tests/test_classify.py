"""Theme classifier tests (deterministic featurizer tier)."""

from __future__ import annotations

import numpy as np

from ndl_core_data_pipeline_spark import classify


def test_featurizer_is_normalized_and_deterministic():
    v1 = classify.featurize("wheat and corn market rates")
    v2 = classify.featurize("wheat and corn market rates")
    assert np.allclose(v1, v2)
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-9
    assert np.linalg.norm(classify.featurize("")) == 0.0


def test_classify_assigns_obvious_themes(spark):
    df = spark.createDataFrame(
        [
            ("a", "farming crops livestock agriculture and fisheries yields"),
            ("b", "electricity renewables power gas energy grids"),
            ("c", "zzz qqq xxyy completely unrelated nonsense tokens"),
        ],
        "identifier STRING, text STRING",
    )
    out = {r["identifier"]: r["predicted_themes"] for r in classify.classify_themes(df).collect()}
    assert out["a"] and out["a"][0] == "AGRI"
    assert out["b"] and out["b"][0] == "ENER"
    assert out["c"] == []  # nothing above threshold
    assert all(len(v) <= classify.TOP_K for v in out.values())


def test_classify_matches_numpy_reference(spark):
    texts = [
        "transport railways aviation roads mobility",
        "health hospitals disease medicine care",
    ]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)], "identifier STRING, text STRING")
    got = {r["identifier"]: r["predicted_themes"] for r in classify.classify_themes(df).collect()}
    labels, mat = classify.theme_matrix()
    for i, t in enumerate(texts):
        sims = classify.featurize(t[:2500]) @ mat.T
        order = np.argsort(-sims, kind="stable")[: classify.TOP_K]
        want = [labels[j] for j in order if sims[j] > classify.COSINE_THRESHOLD]
        assert got[str(i)] == want


def test_merge_tags_coalesce(spark):
    base = spark.createDataFrame(
        [("x", ["old"]), ("y", ["kept"])], "identifier STRING, tags ARRAY<STRING>"
    )
    preds = spark.createDataFrame(
        [("x", ["AGRI"])], "identifier STRING, predicted_themes ARRAY<STRING>"
    )
    out = {r["identifier"]: r["tags"] for r in classify.merge_tags(base, preds).collect()}
    assert out["x"] == ["AGRI"]  # prediction wins
    assert out["y"] == ["kept"]  # no prediction → existing tags survive
