"""Model-tier plumbing: each optional library tier is resolved once per
process (a cached loader), never per row."""

from __future__ import annotations

import importlib.abc
import sys
import types

import pytest

from ndl_core_data_pipeline_spark import classify
from ndl_core_data_pipeline_spark.functions import udfs


def _clear_tier_caches():
    for mod in (udfs, classify):
        for fn in vars(mod).values():
            if hasattr(fn, "cache_clear"):
                fn.cache_clear()


@pytest.fixture(autouse=True)
def fresh_tiers():
    """Every tier loader starts and ends each test unresolved, so a fake
    module never outlives its test."""
    _clear_tier_caches()
    yield
    _clear_tier_caches()


def test_presidio_engines_built_once(monkeypatch):
    counts = {"analyzer": 0, "anonymizer": 0}

    class FakeAnalyzer:
        def __init__(self):
            counts["analyzer"] += 1

        def analyze(self, text, entities, language):
            return []

    class FakeAnonymized:
        def __init__(self, text):
            self.text = text.replace("a@b.com", "xxx@xxx.xx")

    class FakeAnonymizer:
        def __init__(self):
            counts["anonymizer"] += 1

        def anonymize(self, text, analyzer_results, operators):
            return FakeAnonymized(text)

    class FakeOperatorConfig:
        def __init__(self, *args, **kwargs):
            pass

    mod_a = types.ModuleType("presidio_analyzer")
    mod_a.AnalyzerEngine = FakeAnalyzer
    mod_b = types.ModuleType("presidio_anonymizer")
    mod_b.AnonymizerEngine = FakeAnonymizer
    mod_c = types.ModuleType("presidio_anonymizer.entities")
    mod_c.OperatorConfig = FakeOperatorConfig
    mod_b.entities = mod_c
    monkeypatch.setitem(sys.modules, "presidio_analyzer", mod_a)
    monkeypatch.setitem(sys.modules, "presidio_anonymizer", mod_b)
    monkeypatch.setitem(sys.modules, "presidio_anonymizer.entities", mod_c)

    for i in range(25):
        out = udfs.anonymize_text(f"row {i} mail a@b.com")
        assert "xxx@xxx.xx" in out
    assert counts == {"analyzer": 1, "anonymizer": 1}


def test_regex_tier_without_presidio():
    # container has no presidio: the regex tier must redact both patterns
    out = udfs.anonymize_text("mail a.b@example.co.uk call 07911 123 456 end")
    assert out == "mail xxx@xxx.xx call xx-xxxx-xxxx end"


def test_sentence_transformer_built_once(monkeypatch):
    import numpy as np

    counts = {"model": 0}

    class FakeModel:
        def __init__(self, name):
            assert name == "all-MiniLM-L6-v2"
            counts["model"] += 1

        def encode(self, texts):
            return np.ones((len(texts), 4))

    mod = types.ModuleType("sentence_transformers")
    mod.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", mod)
    for _ in range(10):
        out = classify.embed_texts(["a", "b"])
        assert out.shape == (2, 4)
    assert counts["model"] == 1


def test_langdetect_tier_seeded(monkeypatch):
    calls = {"detect": 0}

    class FakeFactory:
        seed = None

    def fake_detect(text):
        calls["detect"] += 1
        return "xx"

    mod = types.ModuleType("langdetect")
    mod.DetectorFactory = FakeFactory
    mod.detect = fake_detect
    monkeypatch.setitem(sys.modules, "langdetect", mod)
    long_text = "word " * 60  # > 200 chars
    assert udfs.detect_language(long_text) == "xx"
    assert FakeFactory.seed == 0  # reference pins the seed
    # short text never reaches the model: metadata fallback then 'en'
    assert udfs.detect_language("short", "fr") == "fr"
    assert udfs.detect_language("short") == "en"
    assert calls["detect"] == 1


def test_tiktoken_tier(monkeypatch):
    class FakeEnc:
        def encode(self, text):
            return text.split()

    fake_calls = {"for_model": 0}

    mod = types.ModuleType("tiktoken")

    def encoding_for_model(name):
        fake_calls["for_model"] += 1
        return FakeEnc()

    mod.encoding_for_model = encoding_for_model
    mod.get_encoding = lambda name: FakeEnc()
    monkeypatch.setitem(sys.modules, "tiktoken", mod)
    for _ in range(5):
        assert udfs.count_tokens("one two three") == 3
    assert fake_calls["for_model"] == 1  # encoder cached
    assert udfs.count_tokens(None) == 0 and udfs.count_tokens("") == 0


def test_absent_tier_import_attempted_once(monkeypatch):
    """An absent library costs one failed import per process, not one per
    row: 50 long rows through detect_language try langdetect once."""
    attempts = []

    class Absent(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path=None, target=None):
            if name == "langdetect":
                attempts.append(name)
                raise ModuleNotFoundError(f"No module named {name!r}", name=name)
            return None

    monkeypatch.delitem(sys.modules, "langdetect", raising=False)
    monkeypatch.setattr(sys, "meta_path", [Absent(), *sys.meta_path])
    long_text = "the cat and the dog sat on the mat " * 10  # > 200 chars
    assert [udfs.detect_language(long_text) for _ in range(50)] == ["en"] * 50
    assert attempts == ["langdetect"]


# NBSP, ideographic space, vertical tab, Arabic-Indic digits: the JVM reads
# \s and [0-9] as ASCII, so these are word characters / non-digits there
HOSTILE_TEXTS = [
    "a\xa0b",
    "x\u3000y z",
    "p\x0bq r",
    "call 07٩١١ ١٢٣ ٤٥٦ now",
    "mix ١٢٣ and 123\xa0and\u3000more",
    "phone 07911 123 456, mail a.b@example.co.uk",
    "tab\tsep\x0cform\rfeed",
]


def test_python_regex_tiers_agree_with_spark(spark, tmp_path, monkeypatch):
    """The Python fallback tiers (no tiktoken, no presidio) give the
    token counts and masked text the JVM regex tiers give on the same
    rows: the X5 count of `text_token_count_regex` and the P1 masks of
    `pii_anonymize_regex`."""
    from ndl_core_data_pipeline_spark.operators import pii, textops

    monkeypatch.setattr(udfs, "_tiktoken_encoder", lambda: None)
    monkeypatch.setattr(udfs, "_presidio_engines", lambda: None)
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(HOSTILE_TEXTS)],
        "doc_id bigint, text string, lang string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    counts = {
        r["doc_id"]: r["token_count"]
        for r in textops.token_count_regex(spark, sf_dir).collect()
    }
    assert counts == {
        i: udfs.count_tokens(t) for i, t in enumerate(HOSTILE_TEXTS)
    }
    masked = pii.anonymize_regex(spark, sf_dir).collect()
    assert len(masked) == len(HOSTILE_TEXTS)
    for r in masked:
        assert udfs.anonymize_text(r["pii_text"]) == r["anon_text"], r["pii_text"]
