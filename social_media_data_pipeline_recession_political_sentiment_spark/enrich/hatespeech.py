"""Hate-speech enrichment (SURVEY §2.8 `udf_hatespeech_api`) and the
an_* gold table built from both enrichment halves.

The reference POSTs every comment to the ModerateHateSpeech REST API,
one HTTP round-trip per row, skip-on-error (ref:
`Data Analysis/Reddit_4chan_Analysis.py:18-53`, `Youtube_Analysis.py:
18-53`). Correctness tests never call external APIs (SURVEY §5
hermeticity), so the engine scores with a deterministic keyword
stand-in for the API's (class, confidence) response. It is a plain
Column expression over the same term counts as the sentiment lexicon
— no Python stage, and exactly what the oracles write in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.text import clean_comment, hate_flag
from ..registry import register
from .sentiment import enrich_sentiment, term_count


def enrich_hatespeech(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach (hs_class, hate_speech_confidence, is_hate_speech) — the
    an_* table's moderation half (ref: `Reddit_4chan_Analysis.py:65-77`,
    flag rule at `:42-45`: class=='flag' AND confidence > 0.9).

    confidence = min(0.99, 0.2*n_dup + 0.1*n_hash); class 'flag' iff
    confidence >= 0.5, else 'ok'. The 0.2/0.1 weights are ``F.lit``
    doubles, matching the oracles' CAST(... AS DOUBLE).

    STATED DELTA from the reference: the reference's `hs_check_comment`
    (`Reddit_4chan_Analysis.py:54`) returns (False, None) for any
    unscorable comment — it folds "no verdict" into
    is_hate_speech=false. This engine instead reads NULL (class,
    confidence, flag) for a NULL comment, the Kleene three-valued
    contract pinned cross-engine: a downstream `is_hate_speech = false`
    filter here EXCLUDES NULL-text rows where the reference would
    include them. "No text, no moderation verdict" keeps unscorable
    distinguishable from scored-clean; consumers that want the
    reference fold apply coalesce(is_hate_speech, false). The
    ``isNotNull`` guard is load-bearing: Spark's ``least`` skips NULL
    operands, so an unguarded NULL comment would read 0.99.
    """
    text = F.col(text_col)
    score = F.lit(0.2) * term_count(text, "dup") + F.lit(0.1) * term_count(text, "hash")
    conf = F.when(text.isNotNull(), F.least(F.lit(0.99), score))
    clazz = F.when(conf >= 0.5, "flag").when(conf < 0.5, "ok")
    return df.withColumns(
        {
            "hs_class": clazz,
            "hate_speech_confidence": conf,
            "is_hate_speech": hate_flag(clazz, conf),
        }
    )


def an_table(comments: DataFrame) -> DataFrame:
    """(comment_id, text) comments → the an_* analysis table (ref:
    `Reddit_4chan_Analysis.py:65-77`: comment_id, original_comment,
    cleaned_comment, is_hate_speech, hate_speech_confidence,
    sentiment, sentiment_score). Every column is an expression over
    the text, so the whole table is one narrow projection, and a
    consumer that reads a subset of it plans only that subset."""
    out = enrich_sentiment(enrich_hatespeech(comments))
    return out.select(
        "comment_id",
        F.col("text").alias("original_comment"),
        clean_comment(F.col("text")).alias("cleaned_comment"),
        "is_hate_speech",
        "hate_speech_confidence",
        "sentiment",
        "sentiment_score",
    )


@register(
    "udf_hatespeech_api",
    # 0.2/0.1 MUST be DOUBLE literals: DuckDB would otherwise do exact
    # DECIMAL arithmetic (0.2+0.1 = 0.3) while Spark produces the
    # IEEE double 0.30000000000000004 — a value-hash mismatch that only
    # surfaces on rows with that keyword mix (seen at sf0.1)
    # the outer CASE WHEN text IS NULL: no text, no verdict — without
    # it DuckDB's least() SKIPS the NULL operand and reads 0.99 where
    # Spark's guarded column reads NULL
    oracle=(
        "WITH c AS (SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE "
        "least(CAST(0.99 AS DOUBLE), "
        "CAST(0.2 AS DOUBLE) * (length(text) - length(replace(text, 'dup', ''))) / 3 + "
        "CAST(0.1 AS DOUBLE) * (length(text) - length(replace(text, 'hash', ''))) / 4) "
        "END AS conf "
        "FROM documents) "
        "SELECT doc_id, conf AS hate_speech_confidence, "
        "(CASE WHEN conf IS NULL THEN NULL "
        "WHEN conf >= 0.5 THEN 'flag' ELSE 'ok' END = 'flag' AND conf > 0.9) "
        "AS is_hate_speech FROM c"
    ),
)
def udf_hatespeech_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hate-speech scoring of every document (ref:
    `Reddit_4chan_Analysis.py:116-137` — the per-row HTTP loop,
    re-expressed as one column expression over the scan)."""
    d = load(spark, sf_dir, "documents")
    return enrich_hatespeech(d).select("doc_id", "hate_speech_confidence", "is_hate_speech")


@register(
    "enrich_table",
    oracle=(
        "WITH c AS (SELECT doc_id, text, "
        "(length(text) - length(replace(text, 'fast', ''))) / 4 AS n_fast, "
        "(length(text) - length(replace(text, 'big', ''))) / 3 AS n_big, "
        "(length(text) - length(replace(text, 'slow', ''))) / 4 AS n_slow, "
        "(length(text) - length(replace(text, 'small', ''))) / 5 AS n_small, "
        "CASE WHEN text IS NULL THEN NULL ELSE "
        "least(CAST(0.99 AS DOUBLE), "
        "CAST(0.2 AS DOUBLE) * (length(text) - length(replace(text, 'dup', ''))) / 3 + "
        "CAST(0.1 AS DOUBLE) * (length(text) - length(replace(text, 'hash', ''))) / 4) "
        "END AS conf "
        "FROM documents), "
        "s AS (SELECT doc_id, text, conf, "
        "(1.0*n_fast + 0.5*n_big - 1.0*n_slow - 0.5*n_small) / "
        "(1.0*n_fast + 0.5*n_big + 1.0*n_slow + 0.5*n_small + 1.0) AS sentiment_score "
        "FROM c) "
        "SELECT doc_id AS comment_id, text AS original_comment, "
        "trim(lower(regexp_replace(regexp_replace(text, 'https?://[^ \\t\\n\\f\\r]+', '', 'g'), "
        "'[^a-zA-Z0-9 \\t\\n\\f\\r]', '', 'g'))) AS cleaned_comment, "
        "(CASE WHEN conf IS NULL THEN NULL "
        "WHEN conf >= 0.5 THEN 'flag' ELSE 'ok' END = 'flag' AND conf > 0.9) "
        "AS is_hate_speech, conf AS hate_speech_confidence, "
        "CASE WHEN sentiment_score >= 0.05 THEN 'positive' "
        "WHEN sentiment_score <= -0.05 THEN 'negative' ELSE 'neutral' END AS sentiment, "
        "sentiment_score FROM s"
    ),
)
def enrich_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full enrichment-stage output — the an_* analysis table over
    the documents. The reference does this with 1 HTTP + 2 DB
    round-trips per row; here it is one narrow projection over the
    scan with zero shuffles and no Python stage."""
    d = load(spark, sf_dir, "documents")
    return an_table(d.select(F.col("doc_id").alias("comment_id"), "text"))
