"""Sentiment enrichment (SURVEY §2.8 `udf_vader_sentiment`).

The reference scores every comment with VADER, re-instantiating
``SentimentIntensityAnalyzer`` on every call — a per-row cost bug
(ref: `Data Analysis/Reddit_4chan_Analysis.py:145-163`,
`Youtube_Analysis.py:143-161`).

The default scorer is a deterministic lexicon (hermetic, SURVEY §5:
real VADER needs the NLTK lexicon download, a network dependency at
`Reddit_4chan_Analysis.py:11`). It is a plain Column expression —
weighted substring counts, JVM-side inside whole-stage codegen, no
Python stage — and the same length/replace counting every oracle
writes in SQL.

``use_vader=True`` is the one Python scorer seam: VADER rules (the
installed package if present, else the vendored-lexicon
re-implementation) run as an Arrow-batched iterator pandas UDF that
builds the analyzer once per partition, so model init costs
O(partitions), not O(rows).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..functions.text import sentiment_bucket
from ..registry import register

# Deterministic lexicon: term -> weight. Terms chosen from the
# synthetic corpus vocabulary; none is a substring of another vocab
# word, so substring counting == token counting here.
_POS = {"fast": 1.0, "big": 0.5}
_NEG = {"slow": 1.0, "small": 0.5}


def term_count(col: Column, term: str) -> Column:
    """Non-overlapping occurrences of ``term`` in ``col`` (Python's
    ``str.count``), NULL for a NULL text: the
    ``(length(c) - length(replace(c, term, ''))) / len(term)``
    counting the oracles use."""
    removed = F.length(col) - F.length(F.replace(col, F.lit(term), F.lit("")))
    return removed / len(term)


def lexicon_score(col: Column) -> Column:
    """compound = (pos - neg) / (pos + neg + 1) over weighted term
    counts — bounded to (-1, 1) like VADER's normalized compound."""
    pos = sum(w * term_count(col, t) for t, w in _POS.items())
    neg = sum(w * term_count(col, t) for t, w in _NEG.items())
    return (pos - neg) / (pos + neg + 1.0)


_VADER_ALPHA = 15.0  # VADER's compound normalization constant
_VADER_NEG_SCALAR = -0.74  # valence multiplier when negated
_VADER_CAPS_BOOST = 0.733  # ALL-CAPS emphasis increment
_VADER_EXCL_BOOST = 0.292  # per-'!' emphasis (capped at 3)
_NEGATIONS = {
    "not", "no", "never", "none", "neither", "nor", "cannot", "cant",
    "dont", "doesnt", "didnt", "isnt", "wasnt", "wont", "wouldnt",
    "shouldnt", "couldnt", "aint", "hardly", "without",
}
_BOOSTERS = {  # degree adverbs: intensity increment (VADER B_INCR/B_DECR)
    "very": 0.293, "extremely": 0.293, "really": 0.293, "so": 0.293,
    "absolutely": 0.293, "completely": 0.293, "totally": 0.293,
    "incredibly": 0.293, "highly": 0.293,
    "slightly": -0.293, "somewhat": -0.293, "barely": -0.293,
    "kinda": -0.293, "marginally": -0.293,
}


class VaderMiniAnalyzer:
    """Hermetic re-implementation of the VADER scoring rules over the
    VENDORED lexicon subset at resources/vader_lexicon_mini.tsv (term
    valences from the published MIT-licensed VADER lexicon, Hutto &
    Gilbert 2014 — no NLTK download, closing the reference's network
    dependency at `Reddit_4chan_Analysis.py:11`).

    Rules implemented (the load-bearing subset of the published
    algorithm): token valence lookup; ALL-CAPS emphasis (±0.733 when
    the text is mixed-case); degree-adverb boosting/dampening in the
    3-token window with VADER's 0.95/0.9 distance decay; negation in
    the same window scaling by −0.74; '!' emphasis (+0.292 each, max
    3); compound = Σv / sqrt((Σv)² + 15), bounded to (−1, 1).

    Used when ``use_vader=True``; the oracle gate keeps the simpler
    deterministic lexicon so every rule stays SQL-expressible."""

    def __init__(self) -> None:
        import os

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "vader_lexicon_mini.tsv",
        )
        self._lex: dict[str, float] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                term, val = line.rstrip("\n").split("\t")
                self._lex[term] = float(val)

    def _score_one(self, text: str) -> float:
        import re as _re

        raw = _re.findall(r"[A-Za-z']+", text)
        words = [w.strip("'") for w in raw]
        lower = [w.lower() for w in words]
        mixed_case = any(w.isupper() and len(w) > 1 for w in words) and not all(
            w.isupper() for w in words if len(w) > 1
        )
        total = 0.0
        for i, w in enumerate(lower):
            v = self._lex.get(w)
            if v is None:
                continue
            if mixed_case and words[i].isupper():
                v += _VADER_CAPS_BOOST if v > 0 else -_VADER_CAPS_BOOST
            for dist in (1, 2, 3):  # look back up to 3 tokens
                j = i - dist
                if j < 0:
                    break
                prev = lower[j]
                boost = _BOOSTERS.get(prev)
                if boost is not None:
                    decay = (1.0, 0.95, 0.9)[dist - 1]
                    v += (boost if v > 0 else -boost) * decay
                if prev in _NEGATIONS:
                    v *= _VADER_NEG_SCALAR
            total += v
        n_excl = min(text.count("!"), 3)
        if total != 0.0 and n_excl:
            emphasis = n_excl * _VADER_EXCL_BOOST
            total += emphasis if total > 0 else -emphasis
        import math

        return total / math.sqrt(total * total + _VADER_ALPHA)

    def score(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._score_one)


def _make_analyzer():
    try:
        from vaderSentiment.vaderSentiment import SentimentIntensityAnalyzer
    except ImportError:
        # package not installed -- the vendored-lexicon
        # re-implementation keeps the real-rules path hermetic
        return VaderMiniAnalyzer()

    class _Vader:
        def __init__(self) -> None:
            self._a = SentimentIntensityAnalyzer()

        def score(self, texts: pd.Series) -> pd.Series:
            return texts.map(lambda s: self._a.polarity_scores(s)["compound"])

    return _Vader()


@F.pandas_udf(T.DoubleType())
def compound_score_vader(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator pandas UDF: one analyzer per partition (fixes the
    reference's per-row re-instantiation), Arrow-batched scoring with
    the VADER rules."""
    analyzer = _make_analyzer()
    for texts in batches:
        yield analyzer.score(texts.fillna(""))


def enrich_sentiment(
    df: DataFrame, text_col: str = "text", use_vader: bool = False
) -> DataFrame:
    """Attach sentiment_score + sentiment bucket columns (the an_*
    table's sentiment half, ref: `Reddit_4chan_Analysis.py:65-77`).
    ``use_vader=True`` swaps the lexicon expression for the VADER
    pandas UDF; bucketing thresholds (±0.05,
    `Reddit_4chan_Analysis.py:152-158`) are shared.

    No text, no score: a NULL comment reads NULL sentiment_score (the
    lexicon's length(NULL) chain is NULL, as in the oracle; the UDF is
    guarded) and the bucket's ELSE arm reads 'neutral'."""
    text = F.col(text_col)
    score = (
        F.when(text.isNotNull(), compound_score_vader(text))
        if use_vader
        else lexicon_score(text)
    )
    scored = df.withColumn("sentiment_score", score)
    return scored.withColumn("sentiment", sentiment_bucket(F.col("sentiment_score")))


_ORACLE_COUNTS = (
    "(length(text) - length(replace(text, 'fast', ''))) / 4 AS n_fast, "
    "(length(text) - length(replace(text, 'big', ''))) / 3 AS n_big, "
    "(length(text) - length(replace(text, 'slow', ''))) / 4 AS n_slow, "
    "(length(text) - length(replace(text, 'small', ''))) / 5 AS n_small"
)
_ORACLE_COMPOUND = (
    "(1.0*n_fast + 0.5*n_big - 1.0*n_slow - 0.5*n_small) / "
    "(1.0*n_fast + 0.5*n_big + 1.0*n_slow + 0.5*n_small + 1.0)"
)


@register(
    "udf_vader_sentiment",
    oracle=(
        f"WITH c AS (SELECT doc_id, {_ORACLE_COUNTS} FROM documents), "
        f"s AS (SELECT doc_id, {_ORACLE_COMPOUND} AS sentiment_score FROM c) "
        "SELECT doc_id, sentiment_score, "
        "CASE WHEN sentiment_score >= 0.05 THEN 'positive' "
        "WHEN sentiment_score <= -0.05 THEN 'negative' "
        "ELSE 'neutral' END AS sentiment FROM s"
    ),
)
def udf_vader_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentiment scoring (ref:
    `Reddit_4chan_Analysis.py:145-163`) with the default lexicon
    expression: counting, weighting, normalization and the ±0.05
    bucketing, all oracle-checkable and with no Python stage."""
    d = load(spark, sf_dir, "documents")
    return enrich_sentiment(d).select("doc_id", "sentiment_score", "sentiment")
