"""Enrichment tier semantics (SURVEY §2.8): deterministic scorer
values, an_* output schema parity, threshold boundaries."""

from __future__ import annotations

import pandas as pd

from social_media_data_pipeline_recession_political_sentiment_spark.enrich.hatespeech import (
    enrich_hatespeech,
)
from social_media_data_pipeline_recession_political_sentiment_spark.enrich.sentiment import (
    enrich_sentiment,
)
from tests.conftest import SF_SMOKE

# combining mark and zero-width joiner glued to a term: the Column
# counts must equal Python's str.count on the same code points
UNICODE_TEXTS = ["fast\u0301 slow", "dup\u200ddup", "big\u200dsmall\u0301 fast"]


def _frame(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _py_sentiment(t: str) -> float:
    pos = 1.0 * t.count("fast") + 0.5 * t.count("big")
    neg = 1.0 * t.count("slow") + 0.5 * t.count("small")
    return (pos - neg) / (pos + neg + 1.0)


def _py_conf(t: str) -> float:
    return min(0.99, 0.2 * t.count("dup") + 0.1 * t.count("hash"))


def test_lexicon_analyzer_exact_values(spark):
    texts = ["fast fast slow", "nothing here", "small big", None, *UNICODE_TEXTS]
    out = enrich_sentiment(_frame(spark, texts)).orderBy("doc_id").collect()
    # (2*1.0 - 1.0) / (2 + 1 + 1) = 0.25 ; 0 ; (0.5 - 0.5)/(1+1) = 0
    assert [r.sentiment_score for r in out[:3]] == [0.25, 0.0, 0.0]
    # no text, no score; the bucket's ELSE arm reads neutral
    assert (out[3].sentiment_score, out[3].sentiment) == (None, "neutral")
    assert [r.sentiment_score for r in out[4:]] == [_py_sentiment(t) for t in UNICODE_TEXTS]
    assert out[6].sentiment_score == (1.5 - 0.5) / 3.0


def test_keyword_scorer_exact_values(spark):
    texts = ["dup dup dup dup dup", "clean text", "hash dup", None, *UNICODE_TEXTS]
    out = enrich_hatespeech(_frame(spark, texts)).orderBy("doc_id").collect()
    assert [r.hate_speech_confidence for r in out[:3]] == [0.99, 0.0, 0.2 + 0.1]
    assert [r.hs_class for r in out[:3]] == ["flag", "ok", "ok"]
    assert [r.is_hate_speech for r in out[:3]] == [True, False, False]
    # no text, no verdict: without the NULL guard least() would skip
    # the NULL count and read 0.99
    nul = out[3]
    assert (nul.hs_class, nul.hate_speech_confidence, nul.is_hate_speech) == (None, None, None)
    assert [r.hate_speech_confidence for r in out[4:]] == [_py_conf(t) for t in UNICODE_TEXTS]
    assert out[5].hate_speech_confidence == 0.4


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def test_default_enrichment_has_no_python_stage(spark):
    """The default scorers are Column expressions: neither the an_*
    table nor the chained enrichers plan a Python evaluation node; the
    VADER seam still does."""
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    chained = enrich_sentiment(enrich_hatespeech(_frame(spark, ["fast dup"])))
    for df in (queries()["enrich_table"](spark, SF_SMOKE), chained):
        df.collect()
        plan = _plan(df)
        assert not [n for n in PYTHON_NODES if n in plan], plan
    vader = enrich_sentiment(_frame(spark, ["fast dup"]), use_vader=True)
    vader.collect()
    assert "ArrowEvalPython" in _plan(vader)


def test_enrich_output_schema_matches_reference_ddl(spark):
    """an_* DDL: comment_id, original_comment, cleaned_comment,
    is_hate_speech, hate_speech_confidence, sentiment, sentiment_score
    (Reddit_4chan_Analysis.py:65-77)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    out = queries()["enrich_table"](spark, "/root/testdata/sf0.001")
    assert out.columns == [
        "comment_id",
        "original_comment",
        "cleaned_comment",
        "is_hate_speech",
        "hate_speech_confidence",
        "sentiment",
        "sentiment_score",
    ]
    types = dict(out.dtypes)
    assert types["is_hate_speech"] == "boolean"
    assert types["hate_speech_confidence"] == "double"
    assert types["sentiment_score"] == "double"


def test_hate_conf_exactly_09_not_flagged(spark):
    """Strict > 0.9: a doc scoring exactly 0.9 stays unflagged."""
    # 0.2 * n_dup = 0.9 is unreachable in steps of 0.2/0.1; use 'hash' x9 = 0.9
    df = spark.createDataFrame([(1, "hash " * 9)], "doc_id long, text string")
    row = enrich_hatespeech(df).collect()[0]
    assert abs(row.hate_speech_confidence - 0.9) < 1e-12
    assert row.is_hate_speech is False


def test_sentiment_bucket_on_scored_docs(spark):
    df = spark.createDataFrame(
        [(1, "fast fast fast fast"), (2, "slow slow slow slow"), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.sentiment for r in enrich_sentiment(df).collect()}
    assert rows == {1: "positive", 2: "negative", 3: "neutral"}


def test_vader_mini_rules_fixture_buckets():
    """Vendored-lexicon VADER rules reproduce the real scorer's bucket
    behavior on unambiguous fixtures (±0.05 thresholds,
    Reddit_4chan_Analysis.py:152-158): valence lookup, negation flip,
    booster amplification, '!' emphasis, caps emphasis, compound
    normalization bounds."""
    from social_media_data_pipeline_recession_political_sentiment_spark.enrich.sentiment import (
        VaderMiniAnalyzer,
    )

    a = VaderMiniAnalyzer()
    texts = pd.Series(
        [
            "This is great, I love it!",
            "terrible awful hate everything",
            "the quarterly report was filed on schedule",
            "not good at all",
            "very good",
            "good",
            "this is GREAT",
        ]
    )
    s = a.score(texts)
    buckets = ["positive" if v >= 0.05 else "negative" if v <= -0.05 else "neutral" for v in s]
    assert buckets == ["positive", "negative", "neutral", "negative", "positive", "positive", "positive"]
    assert all(-1.0 < v < 1.0 for v in s)  # compound normalization bounds
    assert s[4] > s[5]  # 'very' boosts
    assert s[6] > s[5]  # ALL-CAPS emphasis on mixed-case text
    assert s[3] < 0 < s[5]  # negation flips 'good'


def test_enrich_sentiment_vader_path(spark):
    """The use_vader path scores through the pandas UDF and shares the
    bucket expression with the default path."""
    df = spark.createDataFrame(
        [("a", "I love this, it is great!"), ("b", "awful terrible scam")],
        "id string, text string",
    )
    out = {r.id: r for r in enrich_sentiment(df, use_vader=True).collect()}
    assert out["a"].sentiment == "positive" and out["a"].sentiment_score > 0.05
    assert out["b"].sentiment == "negative" and out["b"].sentiment_score < -0.05
