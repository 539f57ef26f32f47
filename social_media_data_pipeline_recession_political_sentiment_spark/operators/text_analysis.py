"""Text-analysis operators (SURVEY §2.7 EXT / §2.10): language ID,
quality scoring, token counting, document fingerprinting, and the
events `props` map ops — the corpus-cleaning toolkit of a large-scale
training-data pipeline.

Everything here is pure column expressions (codegen'd, zero Python),
which is what makes these ops viable over 100 TB of text: a scan +
map stage with no shuffle at all except where a distribution is
aggregated.

The reference claims language detection in its README but ships no
code for it (`README.md:13,35`); quality/token/fingerprint ops are
north-star extensions grounded in the `documents` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import types as T

from ..catalog import (
    compute_once,
    global_rank,
    literal_frame,
    load,
    range_parts,
    session_pin,
)
from ..functions.hashing import (
    WS_CLASS,
    content_fp,
    content_fp_sql,
    doc_bucket,
    doc_bucket_sql,
)
from ..functions.json_contract import (
    json_int_field,
    json_int_field_sql,
    json_n_keys,
    json_n_keys_sql,
)
from ..registry import ORACLES, register

# stopword lists per language for the n-gram-free heuristic;
# deliberately tiny + deterministic (distinct-hit counting).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
    "de": ["der", "und", "die", "das"],
}

_STOPWORDS = ["the", "a", "and", "of", "is", "to", "in"]


def _arr_lit(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@register(
    "fn_lang_detect",  # SURVEY §2.7 id
    oracle=(
        "WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents), "
        + "h AS (SELECT doc_id, lang, "
        + ", ".join(
            f"len(list_intersect(t, {_arr_lit(ws)})) AS h_{lang}"
            for lang, ws in _LANG_MARKERS.items()
        )
        + " FROM s) "
        "SELECT doc_id, lang, CASE "
        "WHEN h_en >= h_fr AND h_en >= h_es AND h_en >= h_de THEN 'en' "
        "WHEN h_fr >= h_es AND h_fr >= h_de THEN 'fr' "
        "WHEN h_es >= h_de THEN 'es' ELSE 'de' END AS lang_guess FROM h"
    ),
)
def ext_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-marker hits with a fixed priority
    order on ties (SURVEY §2.7 `fn_lang_detect` — claimed in the
    reference README, absent from its code; realized here as a
    deterministic heuristic). A real model (fasttext/langdetect)
    slots in behind the SAME column contract via
    `detect_language(..., model_loader=...)` — see below; the
    heuristic stays the hermetic default so the oracle contract
    never depends on an external model file."""
    d = load(spark, sf_dir, "documents")
    return detect_language(d).select("doc_id", "lang", "lang_guess")


def _heuristic_lang_guess(text_col: str):
    """The stopword-marker heuristic as a pure column expression."""
    toks = F.split(F.col(text_col), " ")
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in _LANG_MARKERS.items()
    }
    return (
        F.when(
            (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]),
            "en",
        )
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] >= hits["de"]), "fr")
        .when(hits["es"] >= hits["de"], "es")
        .otherwise("de")
    )


def _langid_libs_importable() -> bool:
    """Cheap availability probe (no model bytes read) — attached to
    the loader as ``.available`` so detect_language can decide the
    code path WITHOUT a throwaway driver-side model load."""
    import importlib.util

    return any(
        importlib.util.find_spec(m) is not None
        for m in ("fasttext", "langdetect")
    )


def load_real_langid_model():
    """Best-effort loader for a real language-ID model. Returns an
    object with ``predict(pd.Series[str]) -> pd.Series[str]`` (ISO
    codes), or None when no model library is installed (this
    container ships neither fasttext nor langdetect — the seam is
    exercised by tests/test_text.py with a fake model)."""
    try:  # pragma: no cover - model libs absent in the test container
        import fasttext  # noqa: F401

        class _FastText:
            def __init__(self):
                # lid.176.ftz is the published fasttext LID model; the
                # deployment bakes it into the image / ships it via
                # spark.files
                self._m = fasttext.load_model("lid.176.ftz")

            def predict(self, texts: pd.Series) -> pd.Series:
                labels, _ = self._m.predict(
                    [t.replace("\n", " ") for t in texts.fillna("")]
                )
                return pd.Series(
                    [ls[0].replace("__label__", "") if ls else "und" for ls in labels],
                    index=texts.index,
                )

        return _FastText()
    except Exception:
        pass
    try:  # pragma: no cover
        from langdetect import detect

        class _LangDetect:
            def predict(self, texts: pd.Series) -> pd.Series:
                def _one(t):
                    try:
                        return detect(t)
                    except Exception:
                        return "und"

                return texts.fillna("").map(_one)

        return _LangDetect()
    except Exception:
        return None


load_real_langid_model.available = _langid_libs_importable


def detect_language(df: DataFrame, text_col: str = "text", model_loader=None) -> DataFrame:
    """Append ``lang_guess`` to ``df`` — THE language-ID seam.

    ``model_loader`` is a zero-arg callable returning a model with
    ``predict(pd.Series) -> pd.Series`` or None. When it yields a
    model, scoring runs as an ITERATOR pandas UDF: the model loads
    ONCE per executor task (not per row/batch — exactly how a
    20 MB+ fasttext binary must be amortized on a 1000-executor
    cluster), then scores Arrow batches vectorized. When it yields
    None (the hermetic default), the codegen stopword heuristic runs
    instead. Either way the output contract is identical, so every
    downstream consumer (`ext_topterms_per_lang`, `ext_lang_id_eval`,
    `ext_corpus_datacard`) is model-agnostic."""
    # availability decision: prefer the loader's cheap `.available`
    # probe (no model bytes read on the driver); fall back to one
    # loader call only for probe-less loaders
    if model_loader is None:
        return df.withColumn("lang_guess", _heuristic_lang_guess(text_col))
    probe = getattr(model_loader, "available", None)
    unavailable = (
        not probe() if callable(probe) else model_loader() is None
    )
    if unavailable:
        return df.withColumn("lang_guess", _heuristic_lang_guess(text_col))

    def _score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # load ON THE EXECUTOR, once per task — the model object never
        # rides the closure (a fasttext binary doesn't pickle). FAIL
        # LOUD if the cheap driver-side probe over-promised (e.g. the
        # lib imports but the model file is missing on this executor):
        # a silent heuristic fallback here would mislabel the corpus
        # while the caller believes the real model ran.
        model = model_loader()
        if model is None:
            raise RuntimeError(
                "language-ID loader returned None on the executor although "
                "its availability probe answered True on the driver — ship "
                "the model file to executors (spark.files) or fix the "
                "loader's .available probe"
            )
        for texts in batches:
            yield model.predict(texts).astype(str)

    udf = F.pandas_udf(_score, T.StringType())
    return df.withColumn("lang_guess", udf(F.col(text_col)))


@register(
    "ext_text_quality",
    oracle=(
        "WITH m AS (SELECT doc_id, length(text) AS n_chars_m, "
        "len(string_split(text, ' ')) AS n_tokens, "
        "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) "
        "/ (length(text) + 1) AS punct_ratio, "
        f"CAST(len(list_intersect(string_split(text, ' '), {_arr_lit(_STOPWORDS)})) AS DOUBLE) "
        "/ (len(string_split(text, ' ')) + 1) AS stop_ratio "
        "FROM documents) "
        "SELECT doc_id, n_chars_m, n_tokens, punct_ratio, stop_ratio, "
        "(n_tokens >= 10 AND punct_ratio < 0.2) AS is_quality FROM m"
    ),
)
def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, token count, punctuation
    ratio, stopword-diversity ratio, and a keep/drop flag — the
    standard cheap filters (C4/Gopher-style) before expensive dedup
    stages. All codegen'd expressions."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    punct = (n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))).cast(
        "double"
    ) / (n_chars + 1)
    stop = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in _STOPWORDS]))
    ).cast("double") / (n_tokens + 1)
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_m"),
        n_tokens.cast("long").alias("n_tokens"),
        punct.alias("punct_ratio"),
        stop.alias("stop_ratio"),
        ((n_tokens >= 10) & (punct < 0.2)).alias("is_quality"),
    )


# SURVEY §2.7 lists the quality metrics under `fn_text_stats`; §2.10
# under `ext_text_quality`. Register both ids.
register("fn_text_stats", oracle=ORACLES["ext_text_quality"])(ext_text_quality)


@register(
    "ext_text_repetition",
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
        # coalesce: a NULL text has ZERO bigrams and ZERO distinct
        # bigrams on both engines (Spark's CASE->array() arm reads 0;
        # DuckDB's range(1, NULL) chain read NULL — r8 NULL sweep)
        "bg AS (SELECT doc_id, greatest(len(t) - 1, 0) AS n_bigrams, "
        "coalesce(len(list_distinct(list_transform(range(1, len(t)), "
        "i -> t[i] || ' ' || t[i+1]))), 0) AS n_distinct_bigrams FROM toks) "
        "SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, "
        "CAST(n_distinct_bigrams AS BIGINT) AS n_distinct_bigrams, "
        "CASE WHEN n_bigrams = 0 THEN CAST(0.0 AS DOUBLE) "
        "ELSE 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams END AS rep_frac, "
        "(n_bigrams > 0 AND 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams > 0.2) "
        "AS is_repetitive FROM bg"
    ),
)
def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: duplicate word-bigram fraction
    per document (1 − distinct/total bigrams) plus a >0.2 drop flag —
    the cheap repetition filter run before dedup in training-corpus
    curation (boilerplate/spam detection). Pure codegen expressions:
    one split, one transform, one array_distinct; no shuffle, no UDF."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "CASE WHEN size(tk) >= 2 THEN "
        "array_distinct(transform(sequence(1, size(tk) - 1), "
        "i -> concat_ws(' ', tk[i - 1], tk[i]))) "
        "ELSE array() END"
    )
    n_bg = F.greatest(F.size("tk") - 1, F.lit(0)).cast("long")
    n_distinct = F.size("bg").cast("long")
    rep = F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
        1.0 - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    )
    return (
        d.withColumn("tk", toks)
        .withColumn("bg", bigrams)
        .select(
            "doc_id",
            n_bg.alias("n_bigrams"),
            n_distinct.alias("n_distinct_bigrams"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_distinct_bigrams",
            rep.alias("rep_frac"),
            ((F.col("n_bigrams") > 0) & (rep > 0.2)).alias("is_repetitive"),
        )
    )


@register(
    "ext_token_count",
    oracle=(
        "SELECT doc_id, len(string_split(trim(text), ' ')) AS ws_tokens, "
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')) AS bpe_ish_tokens "
        "FROM documents"
    ),
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: naive whitespace split and a BPE-ish
    pre-tokenizer regex (letter runs | digit runs | single symbol) —
    the cheap token-budget estimator run over every training document."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]', 0)")
    ).cast("long")
    return d.select("doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_ish_tokens"))


# explicit whitespace class: Java regex \s includes \x0B, RE2's does
# not — the literal class keeps Spark and the DuckDB oracle bit-equal
# (re-exported from functions.hashing alongside the content_fp device)
_WS_CLASS = WS_CLASS


@register(
    "ext_fingerprint",
    oracle=f"SELECT doc_id, {content_fp_sql('text')} AS fp FROM documents",
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized, ASCII-folded
    text — the join key for cross-snapshot/exact-dup bookkeeping
    (32-byte key instead of the document). Case folding is the shared
    `content_fp` device: ASCII-only, because full Unicode lowercasing
    is engine-defined (JVM SpecialCasing vs utf8proc simple maps —
    r7 unicode sweep) and a content KEY must hash identically on
    every engine that computes it."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", content_fp("text").alias("fp"))


@register(
    "ext_props_map",
    oracle=(
        f"SELECT event_id, {json_int_field_sql('props')} AS k_val, "
        f"{json_n_keys_sql('props')} AS n_keys FROM events"
    ),
)
def ext_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events `props` JSON string to MapType and query keys
    (SURVEY §2.10 `ext_props_map`): element_at for lookup, map_keys
    for arity — the pattern for semi-structured sidecar columns.
    Both reads follow the shared integral-token contract
    (functions/json_contract.py): a typed `map<string,bigint>` parse
    would NULL the whole map when ANY sibling value fails coercion,
    and the old constant-1 oracle held only while every fixture
    payload was exactly {"k": int} — the r7 json-edge sweep replaced
    both with per-field semantics identical on the two engines
    (malformed → NULL row, duplicate keys counted, first-wins
    lookup)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        json_int_field("props").alias("k_val"),
        json_n_keys("props").alias("n_keys"),
    )


@register(
    "ext_corpus_curation",
    oracle=(
        "WITH m AS (SELECT doc_id, lang, text, "
        "len(string_split(text, ' ')) AS n_tokens, "
        "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) "
        "/ (length(text) + 1) AS punct_ratio FROM documents), "
        "q AS (SELECT doc_id, lang, n_tokens, "
        f"{content_fp_sql('text')} AS fp, "
        f"row_number() OVER (PARTITION BY {content_fp_sql('text')} "
        "ORDER BY doc_id) AS rn "
        "FROM m WHERE n_tokens >= 10 AND punct_ratio < 0.2) "
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens "
        "FROM q WHERE rn = 1 GROUP BY lang ORDER BY lang"
    ),
)
def ext_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE declarative plan — the gold
    pipeline a training-data run executes nightly: cheap quality
    filters first (so expensive stages see fewer rows), exact dedup on
    a 32-byte fingerprint (first-seen canonical via window rank — the
    deterministic form of the reference's first-seen existence probe,
    `Reddit.py:75-80`), then the per-language document/token budget.

    Scale shape: the filter is a scan-local map stage; the dedup
    shuffles (fingerprint, doc_id, lang, n_tokens) — never text; the
    final rollup is a partial+final hash agg over the survivors. No
    stage sees document bodies after the fingerprint is computed."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    punct = (n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))).cast(
        "double"
    ) / (n_chars + 1)
    fp = content_fp("text")  # shared portable fingerprint device
    q = (
        d.filter((n_tokens >= 10) & (punct < 0.2))
        .select("doc_id", "lang", n_tokens.alias("n_tokens"), fp.alias("fp"))
    )
    canon = (
        q.withColumn("rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id")))
        .filter(F.col("rn") == 1)
    )
    return (
        canon.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("lang")
    )


# Java-regex/RE2-compatible email shape (no lookaround, no \w classes)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"


@register(
    "ext_pii_redact",
    oracle=(
        "WITH deco AS (SELECT doc_id, "
        "text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com' AS t "
        "FROM documents) "
        f"SELECT doc_id, regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g') AS redacted, "
        f"CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_redactions "
        "FROM deco"
    ),
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the redaction pass every training corpus runs
    before tokenization. Emails are synthesized onto the documents
    (the testdata has none) then redacted and counted; the regex is
    written in the Java-regex/RE2 common subset so Spark and the
    DuckDB oracle agree byte for byte. Pure codegen'd expressions:
    a scan-local map stage, no shuffle, viable over 100 TB."""
    d = load(spark, sf_dir, "documents")
    deco = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com"),
    )
    return d.select(
        "doc_id",
        F.regexp_replace(deco, _EMAIL_RE, "[EMAIL]").alias("redacted"),
        F.size(F.regexp_extract_all(deco, F.lit(_EMAIL_RE), 0)).cast("long").alias(
            "n_redactions"
        ),
    )


@register(
    "ext_data_split",
    oracle=(
        "WITH b AS (SELECT doc_id, "
        f"{doc_bucket_sql('doc_id')} "
        "AS bucket FROM documents) "
        "SELECT doc_id, bucket, CASE WHEN bucket < 8 THEN 'train' "
        "WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split FROM b"
    ),
)
def ext_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    stable document key (md5-derived 60-bit int mod 10) — the
    reproducible-split primitive for training pipelines: assignment is
    a pure function of the key, so it is stable across runs, engines,
    partitionings and corpus growth (no sampling state, no shuffle)."""
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return d.select("doc_id", bucket.alias("bucket"), split.alias("split"))


@register(
    "ext_tfidf_topterms",
    oracle=(
        "WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) "
        "AS term FROM documents), "
        "c AS (SELECT count(*) AS n FROM documents), "
        "d AS (SELECT term, count(*) AS df FROM t WHERE term <> '' GROUP BY term) "
        "SELECT term, df, round(ln(CAST(n AS DOUBLE) / df), 6) AS idf "
        "FROM d, c ORDER BY df DESC, term LIMIT 20"
    ),
)
def ext_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table: top-20 terms by DF plus their
    IDF — the vocabulary/stopword census step of a training-data
    pipeline (and the input to any TF-IDF ranker). Terms are deduped
    per document BEFORE the explode (`array_distinct`), so the shuffle
    carries one row per (doc, term) not per token occurrence; the
    groupBy gets map-side partial counts and the corpus size joins in
    as a broadcast scalar. At 100 TB the only full-width data motion
    is the term-keyed count shuffle — top-k then runs on the tiny
    aggregated side (TakeOrderedAndProject, no global sort)."""
    d = load(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term")
    ).filter(F.col("term") != "")
    n = d.agg(F.count("*").alias("n"))
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    return (
        dfreq.crossJoin(F.broadcast(n))
        .select(
            "term",
            "df",
            # round(…, 6) on BOTH sides: Java Math.log and libm ln differ
            # in the last ULP, which the bit-stable oracle contract can't
            # tolerate — 6dp is far above the ULP and far below any
            # ranking-relevant precision
            F.round(F.log(F.col("n").cast("double") / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


PACK_CAPACITY = 512  # tokens per packed context window
PACK_SHARD_WIDTH = 200  # doc_id range width of one packing domain

_PACK_SHARD_SQL = f"CAST(floor(doc_id / {PACK_SHARD_WIDTH}) AS BIGINT)"

# Next-fit recurrence folds (see ext_pack_sequences). Parsed via
# `_cached_expr` once per process — F.expr's SQL parse of these trees
# costs ~0.3 s and needs a live SparkContext, so neither import-time
# parsing nor per-call parsing is acceptable.
# Fold-state design, tuned for PER-CALL PLAN COST (the execution is
# 0.1 s; the repeated Catalyst passes over the expression tree were
# the bench cost): (1) the state is a flat array<bigint>
# [bin, nxt, code...] — no struct types for the optimizer to coerce
# across CASE branches; (2) the initial state (bin = start − 1,
# nxt = CAPACITY + 1) makes the FIRST document take the ordinary
# overflow branch (nxt + n > CAP always since n ≥ 0), so there is no
# first-element special case; (3) each placement is one bigint code
# bin·ENC + offset (offset ≤ CAPACITY < ENC), decoded by div/pmod in
# the final projection.
_PACK_ENC = 1024  # > PACK_CAPACITY so (bin, offset) packs losslessly

_NBINS_FOLD_SQL = f"""
  aggregate(
    docs,
    array(cast(-1 as bigint), cast({PACK_CAPACITY + 1} as bigint)),
    (acc, x) -> CASE
      WHEN element_at(acc, 2) + x.n_tokens <= {PACK_CAPACITY}
        THEN array(element_at(acc, 1), element_at(acc, 2) + x.n_tokens)
      ELSE array(element_at(acc, 1) + 1, x.n_tokens)
    END,
    acc -> element_at(acc, 1) + 1
  )
"""

_PACK_FOLD_SQL = f"""
  aggregate(
    docs,
    array(bin_base - 1, cast({PACK_CAPACITY + 1} as bigint)),
    (acc, x) -> CASE
      WHEN element_at(acc, 2) + x.n_tokens <= {PACK_CAPACITY}
        THEN concat(
          array(element_at(acc, 1), element_at(acc, 2) + x.n_tokens),
          slice(acc, 3, size(acc) - 2),
          array(element_at(acc, 1) * {_PACK_ENC} + element_at(acc, 2)))
      ELSE concat(
          array(element_at(acc, 1) + 1, x.n_tokens),
          slice(acc, 3, size(acc) - 2),
          array((element_at(acc, 1) + 1) * {_PACK_ENC}))
    END,
    acc -> slice(acc, 3, size(acc) - 2)
  )
"""

_EXPR_CACHE: dict = {}


def _cached_expr(sql: str):
    """Parse-once cache for big HOF expressions (Columns are immutable
    expression trees — safe to share across DataFrames/queries)."""
    col = _EXPR_CACHE.get(sql)
    if col is None:
        col = F.expr(sql)
        _EXPR_CACHE[sql] = col
    return col


@register(
    "ext_pack_sequences",
    oracle=(
        "WITH RECURSIVE d AS (SELECT doc_id, coalesce(lang, '') AS lang, "
        f"{_PACK_SHARD_SQL} AS shard, "
        "len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens, "
        "row_number() OVER (PARTITION BY coalesce(lang, ''), "
        f"{_PACK_SHARD_SQL} ORDER BY doc_id) AS rn "
        "FROM documents), "
        "p(lang, shard, rn, doc_id, n_tokens, bin_id, bin_offset) AS ("
        "  SELECT lang, shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
        "  FROM d WHERE rn = 1 "
        "  UNION ALL "
        "  SELECT d.lang, d.shard, d.rn, d.doc_id, d.n_tokens, "
        f"  CASE WHEN p.bin_offset + p.n_tokens + d.n_tokens <= {PACK_CAPACITY} "
        "    THEN p.bin_id ELSE p.bin_id + 1 END, "
        f"  CASE WHEN p.bin_offset + p.n_tokens + d.n_tokens <= {PACK_CAPACITY} "
        "    THEN p.bin_offset + p.n_tokens ELSE CAST(0 AS BIGINT) END "
        "  FROM p JOIN d ON d.lang = p.lang AND d.shard = p.shard "
        "  AND d.rn = p.rn + 1), "
        "nb AS (SELECT lang, shard, max(bin_id) + 1 AS nbins FROM p "
        "GROUP BY lang, shard), "
        "base AS (SELECT lang, shard, CAST(coalesce(sum(nbins) OVER ("
        "PARTITION BY lang ORDER BY shard "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "AS bin_base FROM nb) "
        "SELECT p.doc_id, p.lang, p.n_tokens, p.bin_id + b.bin_base AS bin_id, "
        "p.bin_offset FROM p JOIN base b ON b.lang = p.lang AND b.shard = p.shard"
    ),
)
def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the step that assembles documents into
    fixed-capacity training context windows: walk documents in
    deterministic doc_id order and greedily NEXT-FIT them into bins of
    PACK_CAPACITY tokens (a doc that would overflow the open bin
    starts a new one; an overlong doc gets its own bin). Emits
    (doc_id, lang, n_tokens, bin_id, bin_offset) — bin ids are scoped
    per language, offsets are token positions inside the bin.

    Packing is inherently a sequential recurrence (each placement
    depends on the running bin fill), so it CANNOT be a window
    function; it runs as a JVM-side `aggregate` HOF fold over each
    packing DOMAIN's doc list (sorted `collect_list`, one linear
    codegen pass per group — no Python, no Arrow transfer). The
    domain is NOT the whole language (an English-dominated 100 TB
    corpus would put most of the data in one task — the scale defect
    VERDICT r4 flagged): it is (lang, shard) with shard =
    floor(doc_id / PACK_SHARD_WIDTH), a pure function of the row, so
    per-task work and per-group array size are bounded by
    PACK_SHARD_WIDTH documents no matter how skewed the language mix
    is, and the DuckDB oracle reproduces the exact same domains with
    a recursive CTE partitioned the same way. Bins never span shards
    (tail waste per shard is < one bin — negligible against the
    thousands of bins a shard holds at production width); language-
    global bin ids are stitched back on with a TWO-PHASE PREFIX SUM,
    the `ext_shard_manifest` device: phase 2 derives per-shard bin
    counts with a scalar-state fold and runs a window over ONE SLIM
    ROW PER SHARD (lang, shard, nbins) — never over documents, never
    moving the packed arrays — then broadcast-joins the per-shard
    starting bin ids back and seeds the row-emitting fold with them,
    so the expensive fold appears exactly once in the plan. The two
    branches each re-scan the 3-column pruned projection (cheap; a
    deployment that minds it persists the grouped relation). Token
    counts and bin ids are exact integers end to end — nothing float
    touches the contract."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        # coalesce: NULL = NULL is never true in SQL, so a NULL-lang
        # group would silently diverge from the oracle's recursive join
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        # coalesce ALSO proves the join keys non-null: without it the
        # stitch join infers isnotnull filters on the probe branch
        # only, the two agg subtrees stop being identical, and
        # ReusedExchange can't share their shuffle (doc_id is never
        # actually null in the testdata contract)
        F.coalesce(
            F.floor(F.col("doc_id") / PACK_SHARD_WIDTH).cast("long"), F.lit(0)
        ).alias("shard"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).cast("long").alias("n_tokens"),
    )

    # one row per (lang, shard): docs sorted by doc_id (struct sort =
    # lexicographic on the leading field)
    g = d.groupBy("lang", "shard").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_tokens"))).alias("docs")
    )

    # phase 2 FIRST: per-shard bin counts from a SCALAR fold (state =
    # (open bin, next offset) only — the expensive row-emitting fold
    # below then appears exactly once in the plan, keeping per-call
    # analysis cost flat), prefix-summed per language over one slim
    # row per shard, never over documents.
    nb = g.select("lang", "shard", _cached_expr(_NBINS_FOLD_SQL).alias("nbins"))
    w = (
        W.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    base = nb.select(
        "lang",
        "shard",
        F.coalesce(F.sum("nbins").over(w), F.lit(0)).alias("bin_base"),
    )

    # join the starting bin id on, then run the next-fit recurrence
    # ONCE, seeded at bin_base, emitting one bigint code per doc
    # aligned with the sorted docs; posexplode + element_at restores
    # the per-doc rows, div/pmod decodes (bin_id, bin_offset)
    doc = F.element_at(F.col("docs"), F.col("pos") + 1)
    return (
        g.join(F.broadcast(base), ["lang", "shard"])
        .select(
            "lang",
            "docs",
            F.posexplode(_cached_expr(_PACK_FOLD_SQL)).alias("pos", "code"),
        )
        .select(
            doc["doc_id"].alias("doc_id"),
            "lang",
            doc["n_tokens"].alias("n_tokens"),
            F.expr(f"code div {_PACK_ENC}").alias("bin_id"),
            F.pmod(F.col("code"), F.lit(_PACK_ENC)).alias("bin_offset"),
        )
    )


@register(
    "ext_lm_unigram_score",
    oracle=(
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "t AS (SELECT doc_id, term FROM toks WHERE term <> ''), "
        "tot AS (SELECT count(*) AS n FROM t), "
        "freq AS (SELECT term, count(*) AS c FROM t GROUP BY term), "
        "lp AS (SELECT term, CAST(round(ln(CAST(c AS DOUBLE) / n) * 1000000) "
        "AS BIGINT) AS lp_micro FROM freq, tot) "
        "SELECT t.doc_id, count(*) AS n_tokens, "
        "CAST(sum(lp.lp_micro) AS BIGINT) AS logprob_micro, "
        "CAST(CAST(sum(lp.lp_micro) AS BIGINT) AS DOUBLE) / count(*) AS avg_logprob_micro "
        "FROM t JOIN lp USING (term) GROUP BY t.doc_id"
    ),
)
def ext_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model document score — the CCNet/Gopher-style
    LM quality filter: train a unigram LM on the corpus itself (term
    frequency / total tokens), then score every document by the sum
    and per-token mean of its tokens' log-probabilities. Documents
    whose tokens are systematically rare (boilerplate soup, OCR noise,
    wrong-language fragments) score low and get filtered before
    training.

    Bit-stable oracle contract: per-term ln(p) is scaled to integer
    MICRO-NATS (`round(ln(p)*1e6) AS BIGINT`) before any aggregation,
    so the per-doc sum is an exact integer — order-independent under
    any partitioning, immune to float-summation drift and to the
    Java-Math.log-vs-libm last-ULP gap (rounded away at 1e-6 nats,
    far above ULP, far below any filtering-relevant precision). The
    mean is one exact-int / exact-int division — a single IEEE op,
    identical on both engines. The DuckDB side casts `sum()` back to
    BIGINT (HUGEINT otherwise — the r3 multimodal lesson).

    Scale shape: one token explode feeding two consumers — a
    term-keyed count shuffle (map-side partial agg) to build the LM,
    and a term-keyed join to score; the corpus total joins in as a
    broadcast scalar. Both shuffles are hash-partitioned on term —
    uniform unless a stopword dominates, which AQE skew-split covers.
    At 100 TB the LM table itself is the thing to bound: cap the
    vocabulary to top-K terms with an OOV floor (the standard CCNet
    recipe) and the score join becomes a broadcast. Docs with zero
    tokens have no LM evidence and are omitted (inner join), matching
    the oracle."""
    return _lm_doc_scores(spark, sf_dir)


def _lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED unigram-LM document scores: (doc_id, n_tokens,
    logprob_micro, avg_logprob_micro) with the integer micro-nats
    contract — `ext_lm_unigram_score` emits it directly,
    `ext_lm_perplexity_buckets` ranks over it, and
    `ext_curation_scorecard` joins it as a score column.

    Session-pinned (r12 verdict item 1 — the exact catalog.py
    pattern that fixed the text-mine and embcos families): the LM
    family held the two worst driver-bench rows (perplexity_buckets
    1.84×, bigram_score 1.78×) because every consumer re-ran the
    tokenize → census → score chain; the pinned frame is SLIM (four
    numeric columns per doc) and the dominant cost — two token
    explodes over the corpus — now runs once per session. Tagged
    `lm_doc_scores` in the catalog cap audit (7th family)."""
    return session_pin(
        spark,
        sf_dir,
        "lm_doc_scores",
        lambda: _lm_doc_scores_build(spark, sf_dir),
    )


def _lm_doc_scores_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual two-pass LM scoring plan (built once per session by
    the pin seam above — see `ext_lm_unigram_score` for the contract
    and scale notes)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    # TWO scans (census pass + scoring pass, the classic two-pass LM
    # recipe): the corpus total derives from the pinned vocab census
    # instead of a third token explode (r6 scan audit)
    freq = compute_once(toks.groupBy("term").agg(F.count("*").alias("c")))
    tot = freq.agg(F.sum("c").alias("n_total"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            F.log(F.col("c").cast("double") / F.col("n_total")) * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp_micro").alias("logprob_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_micro",
            (F.col("logprob_micro").cast("double") / F.col("n_tokens")).alias(
                "avg_logprob_micro"
            ),
        )
    )


@register(
    "ext_quality_gate",
    oracle=(
        "WITH s AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents), "
        "m AS (SELECT doc_id, n_chars, len(w) AS n_words, "
        f"len(list_intersect(w, {_arr_lit(_STOPWORDS)})) AS stop_hits FROM s) "
        "SELECT doc_id, n_words, stop_hits, "
        "CAST(n_chars - n_words + 1 AS DOUBLE) / n_words AS mean_wlen "
        "FROM m WHERE n_words BETWEEN 5 AND 1000 "
        "AND stop_hits >= 1 "
        "AND CAST(n_chars - n_words + 1 AS DOUBLE) / n_words BETWEEN 2 AND 12"
    ),
)
def ext_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate: keep documents whose word
    count, mean word length and stopword presence all land in sane
    ranges (the rule-stack every LLM corpus cleaner runs before dedup;
    cf. Rae et al. 2021 §A1). Mean word length derives from n_chars
    and the word count (chars minus the n_words-1 separators, exact
    integer math then one IEEE division, so the oracle hash is stable).
    Pure codegen'd column expressions — a scan-local filter with no
    shuffle, the cheapest possible 100 TB pass; on a cluster the gate
    runs fused into the scan of whatever op follows it."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    stop_hits = F.size(
        F.array_intersect(w, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    mean_wlen = (
        (F.col("n_chars") - n_words + F.lit(1)).cast("double") / n_words
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        mean_wlen.alias("mean_wlen"),
    )
    return m.filter(
        F.col("n_words").between(5, 1000)
        & (F.col("stop_hits") >= 1)
        & F.col("mean_wlen").between(2, 12)
    )


@register(
    "ext_url_domains",
    oracle=(
        "WITH dec AS (SELECT doc_id, text || ' see https://mirror' "
        "|| CAST(doc_id % 20 AS VARCHAR) || '.example.org/d/' "
        "|| CAST(doc_id AS VARCHAR) AS t FROM documents), "
        "u AS (SELECT doc_id, regexp_extract(t, 'https?://([^/ ]+)', 1) "
        "AS domain FROM dec) "
        "SELECT domain, count(*) AS n_docs FROM u "
        "WHERE domain <> '' GROUP BY domain"
    ),
)
def ext_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document census — the provenance report every web
    corpus publishes (and the input to domain-level filtering/
    reweighting a la C4/RefinedWeb). The fixture text carries no URLs,
    so each doc is decorated with a deterministic synthetic URL (same
    device as `ext_pii_redact`'s email decoration) and the domain is
    pulled back out with a regex in the Java/RE2 common subset both
    engines parse identically. Extraction is a scan-local codegen'd
    map; the only shuffle is the domain-keyed count with map-side
    partials — domains are zipf-ish at corpus scale, which the salted
    / AQE agg patterns (`agg_salted_skew`) absorb."""
    d = load(spark, sf_dir, "documents")
    deco = F.concat(
        F.col("text"),
        F.lit(" see https://mirror"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/d/"),
        F.col("doc_id").cast("string"),
    )
    u = d.select(
        F.regexp_extract(deco, r"https?://([^/ ]+)", 1).alias("domain")
    )
    return (
        u.filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(F.count("*").alias("n_docs"))
    )


@F.pandas_udf(T.StringType())
def _nfc_normalize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator pandas UDF: Arrow-batched NFC normalization (the one
    text op Spark has no built-in for; unicodedata is C-backed)."""
    import unicodedata

    for batch in batches:
        yield batch.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )


@register(
    "fn_unicode_nfc",
    oracle=(
        "WITH dec AS (SELECT doc_id, text || ' café ' || chr(233) AS t "
        "FROM documents) "
        "SELECT doc_id, nfc_normalize(t) AS nfc, "
        "(nfc_normalize(t) = t) AS was_normal FROM dec"
    ),
)
def fn_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the first pass of any text-corpus
    pipeline (combining-mark sequences like 'e'+U+0301 collapse to the
    precomposed form, so downstream dedup/fingerprint hashing treats
    visually-identical strings identically). Spark has no built-in
    normalizer, so this is the showcase for the SANCTIONED slow path
    (SURVEY §2.8): an Arrow-batched pandas UDF (`unicodedata` is
    C-backed; the batch transfer, not the loop, dominates) rather than
    a row-at-a-time Python UDF. The fixture text is ASCII, so each doc
    is decorated with a decomposed 'café' to make the op observable;
    the oracle runs DuckDB's native nfc_normalize — both sides
    implement the same Unicode standard, making the hash comparison
    exact. Scan-local map, no shuffle; at 100 TB this pays one
    Python-worker Arrow round-trip per partition."""
    d = load(spark, sf_dir, "documents")
    deco = F.concat(F.col("text"), F.lit(" café é"))
    out = d.select("doc_id", _nfc_normalize(deco).alias("nfc"), deco.alias("t"))
    return out.select(
        "doc_id", "nfc", (F.col("nfc") == F.col("t")).alias("was_normal")
    )


@register(
    "ext_sample_per_group",
    oracle=(
        "WITH r AS (SELECT doc_id, lang, row_number() OVER "
        "(PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) "
        "AS rn FROM documents) "
        "SELECT doc_id, lang, rn FROM r WHERE rn <= 50"
    ),
)
def ext_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (50 docs/lang) — corpus
    balancing: cap the dominant language without starving the tail.
    Rank within each language by md5(key): a pure function of the key,
    so the sample is stable across runs, engines and partitionings
    (same contract as `ext_data_split`) yet uniformly random in
    distribution. One shuffle on lang; `WindowGroupLimit` pushes the
    rn<=50 cap into the sort so no partition ranks more than ~50 rows
    per key. With millions of groups you'd swap row_number for a
    per-group hash-threshold filter (approx quota, no sort at all) —
    here groups are few and the exact quota is the point."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
    )


SHARD_TOKENS = 2000


@register(
    "ext_shard_manifest",
    oracle=(
        # coalesce: NULL text = ZERO tokens on both engines (r7 NULL
        # sweep — a NULL n_tokens otherwise NaN-poisons the offset
        # cumsum and crashes the driver-side shard-total loop)
        "WITH d AS (SELECT doc_id, "
        "coalesce(len(string_split(text, ' ')), 0) AS n_tokens, "
        "md5(CAST(doc_id AS VARCHAR)) AS k FROM documents), "
        "c AS (SELECT doc_id, n_tokens, "
        "CAST(sum(n_tokens) OVER (ORDER BY k, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "- n_tokens AS tok_offset FROM d) "
        f"SELECT doc_id, n_tokens, tok_offset, tok_offset // {SHARD_TOKENS} "
        "AS shard_id FROM c"
    ),
)
def ext_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: lay the corpus out in a deterministic
    hash order, assign every document its global token offset, and
    bin it into fixed-token shards — the bookkeeping step that turns a
    corpus into webdataset-style training shards.

    The global running sum is computed as a DISTRIBUTED TWO-PHASE
    PREFIX SUM, not a single-partition global window (the naive
    `Window.orderBy(...)` with no partition key funnels 100 TB through
    one task — the classic scale trap this operator exists to avoid):
    phase 1 range-partitions on the hash order, sorts within
    partitions, and computes partition-local cumsums + per-partition
    totals (one `mapInPandas` pass); phase 2 turns the P partition
    totals (P scalars, driver-side) into starting offsets and adds
    them back map-side. Data moves through exactly one range-exchange;
    nothing ever serializes through a single reducer."""
    import pandas as pd

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        # coalesce: NULL text = ZERO tokens (r7 NULL sweep; matches
        # the oracle pin)
        F.coalesce(
            F.size(F.split(F.col("text"), " ")), F.lit(0)
        ).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    # scale-adaptive range-partition count (r13, guide §2)
    n_parts = range_parts(sf_dir, "documents")
    ranged = d.repartitionByRange(n_parts, "k", "doc_id").sortWithinPartitions(
        "k", "doc_id"
    )

    def _local_cumsum(batches):
        pid = None
        rows = []
        for pdf in batches:
            rows.append(pdf)
        pdf = (
            pd.concat(rows)
            if rows
            else pd.DataFrame(columns=["doc_id", "n_tokens", "k"])
        )
        if len(pdf):
            pdf["local_off"] = pdf["n_tokens"].cumsum() - pdf["n_tokens"]
        else:
            pdf["local_off"] = pd.Series(dtype="int64")
        yield pdf[["doc_id", "n_tokens", "k", "local_off"]]

    local = ranged.mapInPandas(
        _local_cumsum,
        "doc_id long, n_tokens long, k string, local_off long",
        # preservesPartitioning-equivalent: mapInPandas is 1:1 per
        # partition, so the range order survives
    ).withColumn("pid", F.spark_partition_id())
    # Checkpoint before the two actions below: the totals collect and
    # the final projection must read the SAME partitioning — without
    # this, both actions recompute the lineage independently and any
    # nondeterminism in scan splits / future AQE changes could
    # misassign global offsets silently. LAZY (r9): the totals collect
    # IS the materialization; the final projection reads those same
    # blocks — one pass instead of checkpoint-job + collect-job.
    local = local.localCheckpoint(eager=False)

    # phase 2: P scalar totals -> starting offsets (tiny, driver-side)
    totals = (
        local.groupBy("pid").agg(F.sum("n_tokens").alias("t")).collect()
    )
    sums = {r.pid: r.t for r in totals}
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    off_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        ),
        F.col("pid"),
    )
    return local.select(
        "doc_id",
        "n_tokens",
        (F.col("local_off") + off_expr).alias("tok_offset"),
        ((F.col("local_off") + off_expr) / SHARD_TOKENS).cast("long").alias(
            "shard_id"
        ),
    )


def _mix_hash_sql(col: str) -> str:
    """DuckDB twin of the salted 60-bit mixture hash below."""
    return (
        f"CAST(('0x' || substr(md5('mix:' || CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT)"
    )


@register(
    "ext_sample_mixture",
    oracle=(
        "WITH d AS (SELECT doc_id, source, "
        f"{doc_bucket_sql('source')} + 1 AS weight_tenths, "
        f"({_mix_hash_sql('doc_id')} % 1000) AS roll FROM documents) "
        "SELECT source, weight_tenths, count(*) AS n_docs, "
        "CAST(sum(CASE WHEN roll < weight_tenths * 100 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_kept FROM d GROUP BY source, weight_tenths"
    ),
)
def ext_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based mixture sampling — the training-mixture weighting
    step (sample source s at rate w_s to hit a target data mix),
    distinct from `ext_sample_per_group`'s hard quota: a KEEP decision
    is a pure function of the document key, so the sample is stable
    across runs, engines, partitionings and corpus growth, and
    adding documents to a source never flips earlier decisions (the
    property reservoir/quota sampling lacks). Per-source weights here
    derive deterministically from the source name (md5 bucket + 1
    tenths, i.e. 0.1..1.0) so the oracle reproduces them; a real run
    would broadcast a curated weights table instead — same plan.

    The keep rule is integer-exact end to end: a salted 60-bit md5 of
    doc_id mod 1000 rolls against weight_tenths*100, so both engines
    agree bit-for-bit (no float thresholds). Scale shape: scan-local
    keep flag (zero shuffle), then one per-source count aggregation
    with map-side partials — the census this query emits; the kept
    corpus itself would just be the filter without the groupBy."""
    d = load(spark, sf_dir, "documents")
    wt = (doc_bucket("source") + 1).alias("weight_tenths")
    roll = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return (
        d.select("source", wt, roll.alias("roll"))
        .groupBy("source", "weight_tenths")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("roll") < F.col("weight_tenths") * 100, 1).otherwise(0)
            ).cast("long").alias("n_kept"),
        )
    )


PPL_BUCKETS = 3  # CCNet head / middle / tail

_PPL_BUCKETS_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tot AS (SELECT count(*) AS n FROM t),
freq AS (SELECT term, count(*) AS c FROM t GROUP BY term),
lp AS (SELECT term, CAST(round(ln(CAST(c AS DOUBLE) / n) * 1000000)
       AS BIGINT) AS lp_micro FROM freq, tot),
scores AS (SELECT t.doc_id, count(*) AS n_tokens,
           CAST(CAST(sum(lp.lp_micro) AS BIGINT) AS DOUBLE) / count(*)
             AS avg_logprob_micro
           FROM t JOIN lp USING (term) GROUP BY t.doc_id),
n AS (SELECT count(*) AS n_docs FROM scores),
ranked AS (SELECT doc_id, n_tokens, avg_logprob_micro,
           CAST(row_number() OVER (ORDER BY avg_logprob_micro DESC, doc_id)
                AS BIGINT) AS rank
           FROM scores)
SELECT doc_id, n_tokens, avg_logprob_micro, rank,
       CASE CAST(((rank - 1) * 3) // n_docs AS BIGINT)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked, n
"""


@register("ext_lm_perplexity_buckets", oracle=_PPL_BUCKETS_ORACLE)
def ext_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: rank every document by its
    unigram-LM score (best per-token log-prob first) and cut the
    corpus into three equal-count perplexity buckets — the mixture
    knob CCNet-style pipelines expose (train mostly on head, sample
    middle, drop or down-weight tail).

    The global rank is `catalog.global_rank` on (avg DESC, doc_id):
    one range exchange, P per-partition counts, offsets added back
    natively — not a single-partition `Window.orderBy` (the
    one-reducer funnel that cannot run at 100 TB), and no Python
    stage. Bucket ids are then pure integer arithmetic
    `((rank-1)*3) div N` — no percentile estimation, no float
    thresholds, exact and engine-agnostic; an empty corpus returns no
    rows. At production scale the ranking input would be the
    bounded-vocab LM score (see `ext_lm_unigram_score`).

    Scores ride the same integer micro-nats contract as
    `ext_lm_unigram_score`; the avg is one exact-int/exact-int IEEE
    division, so ordering (and therefore every rank and bucket) is
    bit-reproducible against the oracle."""
    scores = _lm_doc_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "avg_logprob_micro"
    )
    ranked, n_docs = global_rank(
        scores,
        [F.col("avg_logprob_micro").desc(), F.col("doc_id")],
        range_parts(sf_dir, "documents"),
    )
    bucket_ix = F.expr(f"((rank - 1) * {PPL_BUCKETS}) div {max(n_docs, 1)}")
    return ranked.select(
        "doc_id",
        "n_tokens",
        "avg_logprob_micro",
        "rank",
        F.when(bucket_ix == 0, "head")
        .when(bucket_ix == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_DATACARD_ORACLE = (
    "WITH s AS (SELECT doc_id, source, lang, n_chars, text, "
    "string_split(text, ' ') AS w FROM documents), "
    "m AS (SELECT source, lang, n_chars, len(w) AS n_words, "
    f"len(list_intersect(w, {_arr_lit(_STOPWORDS)})) AS stop_hits, "
    "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM s), "
    "g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_words) AS BIGINT) AS n_tokens, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
    "CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, "
    "CAST(sum(CASE WHEN n_words BETWEEN 5 AND 1000 AND stop_hits >= 1 "
    "AND CAST(n_chars - n_words + 1 AS DOUBLE) / n_words BETWEEN 2 AND 12 "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_gate "
    "FROM m GROUP BY source, lang) "
    "SELECT source, lang, n_docs, n_tokens, total_chars, n_dup_docs, "
    "n_pass_gate, CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_rate, "
    "CAST(n_pass_gate AS DOUBLE) / n_docs AS gate_rate FROM g"
)


@register("ext_corpus_datacard", oracle=_DATACARD_ORACLE)
def ext_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics — the per-(source, language) table
    every corpus release publishes (docs, tokens, chars, duplicate
    rate, quality-gate pass rate in one query). Duplicate status is
    CORPUS-WIDE (a doc is a dup if any lower doc_id anywhere holds
    the same text — `ext_dedup_exact`'s canonical-copy rule), so the
    card reports true global redundancy, not per-source redundancy.

    Plan: one scan computes words/stopwords/gate flags codegen-side;
    the dup flag costs one window keyed on sha2(text) (shuffle key =
    32-byte hash, tiny groups — the exact-dedup shuffle); the card
    itself is one (source, lang) hash agg with map-side partials over
    a handful of groups. Rates are exact-int / exact-int single IEEE
    divisions, so the hash contract holds. At 100 TB this is two
    bounded shuffles — the same motions `ext_dedup_exact` already
    pays — emitting a kilobyte-scale report."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    stop_hits = F.size(
        F.array_intersect(w, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    mean_wlen = (
        (F.col("n_chars") - n_words + F.lit(1)).cast("double") / n_words
    )
    rn = F.row_number().over(
        W.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    )
    m = d.select(
        "source",
        "lang",
        "n_chars",
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        mean_wlen.alias("mean_wlen"),
        rn.alias("rn"),
    )
    gate = (
        F.col("n_words").between(5, 1000)
        & (F.col("stop_hits") >= 1)
        & F.col("mean_wlen").between(2, 12)
    )
    g = m.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_docs"),
        # coalesce: a doc whose gate is UNEVALUABLE (NULL text => NULL
        # word stats) does not PASS the gate — 0, matching the
        # oracle's CASE ... ELSE 0 arm; bare sum() over an all-NULL
        # group read NULL on Spark only (r8 NULL sweep)
        F.sum(F.coalesce(gate.cast("long"), F.lit(0))).alias("n_pass_gate"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "total_chars",
        "n_dup_docs",
        "n_pass_gate",
        (F.col("n_dup_docs").cast("double") / F.col("n_docs")).alias("dup_rate"),
        (F.col("n_pass_gate").cast("double") / F.col("n_docs")).alias(
            "gate_rate"
        ),
    )


# ------------------------------------------ doc-length log histogram

_LENHIST_ORACLE = """
SELECT CAST(length(bin(n_chars)) AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


@register("ext_length_histogram", oracle=_LENHIST_ORACLE)
def ext_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucketed document-length histogram — the length
    distribution every data card plots and the input to truncation /
    packing budget decisions (`ext_pack_sequences`' window size is
    chosen off exactly this curve). Bucket = number of binary digits
    of n_chars (floor(log₂)+1), computed via the `bin()` string
    length on BOTH engines so the bucket edge is integer-exact —
    never floor(log2(x)) on a float, whose 2ᵏ boundaries are at the
    mercy of libm rounding.

    Scale shape: scan-local bucket expression (codegen) + one tiny
    agg keyed on ≤64 buckets with map-side partials; AQE coalesces
    the shuffle to almost nothing. No doc text is read (column
    pruning keeps the scan to the n_chars column)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.length(F.bin(F.col("n_chars"))).cast("long").alias("log2_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ----------------------------------------------- vocabulary census

_VOCAB_ORACLE = """
WITH t AS (SELECT coalesce(lang, 'und') AS lang,
                  unnest(string_split(text, ' ')) AS term FROM documents),
tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
       FROM t WHERE term <> '' GROUP BY 1, 2),
v AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM tc GROUP BY 1),
d AS (SELECT coalesce(lang, 'und') AS lang,
             CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
SELECT d.lang, d.n_docs, v.n_tokens, v.n_types, v.n_hapax,
       CAST(v.n_types * 1000000 // v.n_tokens AS BIGINT) AS ttr_micro
FROM d LEFT JOIN v USING (lang)
"""


@register("ext_vocab_census", oracle=_VOCAB_ORACLE)
def ext_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary census: token count, type (distinct
    term) count, hapax-legomenon count, and type-token ratio — the
    lexical-diversity block of a dataset card, and the drift signal
    between corpus releases (a collapsing TTR or exploding hapax rate
    means boilerplate flooding or OCR noise respectively).
    Complements `ext_tfidf_topterms` (top-k document frequencies) and
    `ext_ngram_census` (top-k n-grams) with corpus-LEVEL scalars.

    Exactness: every stat is an exact BIGINT; TTR is scaled to
    integer micro-units via int floor-division (all positive, so
    Spark `div` ≡ DuckDB `//`). NULL langs fold to 'und' BEFORE the
    join on both engines (a NULL join key would silently drop the
    group in Spark's inner join semantics).

    Scale shape: one (lang, term)-keyed count shuffle with map-side
    partials — the `ext_lm_unigram_score` LM-build motion — then a
    lang-keyed re-agg of the already-aggregated term table (vocab-
    sized, not corpus-sized) and a broadcast-sized join against the
    per-lang doc counts. Nothing wider than (lang, term, count) ever
    moves; stopword-term skew is absorbed because the heavy terms
    are still one row per (lang, term) after the partial agg."""
    d = load(spark, sf_dir, "documents")
    lang = F.coalesce(F.col("lang"), F.lit("und")).alias("lang")
    tc = (
        d.select(lang, F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(F.count("*").alias("c"))
    )
    v = tc.groupBy("lang").agg(
        F.count("*").alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    nd = d.groupBy(lang).agg(F.count("*").alias("n_docs"))
    return nd.join(v, "lang", "left").select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("n_types * 1000000 div n_tokens").alias("ttr_micro"),
    )


# ------------------------------------------- URL canonicalization

# The fixture text carries no URLs (the `ext_url_domains` device), so
# each doc is decorated with ONE of three deliberately-messy variant
# forms of the same logical URL — uppercase scheme/host + www. +
# trailing slash, utm_* tracking params, or a #fragment — as a pure
# function of doc_id. Several docs share each canonical URL and a
# shared URL arrives in up to all three variant forms, so the census
# demonstrates real consolidation.
_URL_VARIANT_SQL = """
CASE doc_id % 3
  WHEN 0 THEN 'HTTPS://WWW.Mirror' || CAST(doc_id % 20 AS VARCHAR)
    || '.EXAMPLE.org/p/' || CAST(doc_id % 25 AS VARCHAR) || '/'
  WHEN 1 THEN 'https://mirror' || CAST(doc_id % 20 AS VARCHAR)
    || '.example.org/p/' || CAST(doc_id % 25 AS VARCHAR)
    || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 25 AS VARCHAR)
  ELSE 'https://mirror' || CAST(doc_id % 20 AS VARCHAR)
    || '.example.org/p/' || CAST(doc_id % 25 AS VARCHAR) || '#sec'
END
"""

def _url_canon_chain(extra: str = "") -> str:
    """The raw→canon CTE chain (expects a CTE `raw` with doc_id, u
    [+ `extra` carried columns]; yields `canon` with the canonical
    `url`). ONE definition consumed by `ext_url_canonical`'s census
    oracle AND `ext_dedup_url_content_cross`'s triage oracle, so the
    canonicalization rules can never drift between them (the
    `_SHINGLE_CTE` convention)."""
    e = extra
    return f"""split_head AS (SELECT doc_id{e}, u,
        regexp_extract(u, '(?i)^(https?://[^/]*)', 1) AS head FROM raw),
lowered AS (SELECT doc_id{e}, u,
        lower(head) || substr(u, length(head) + 1) AS c FROM split_head),
c1 AS (SELECT doc_id{e}, u, replace(c, 'https://www.', 'https://') AS c FROM lowered),
c2 AS (SELECT doc_id{e}, u, regexp_replace(c, '#[^ ]*$', '', 'g') AS c FROM c1),
c3 AS (SELECT doc_id{e}, u,
        regexp_replace(c, '[?&]utm_[a-z]+=[^&# ]*', '', 'g') AS c FROM c2),
canon AS (SELECT doc_id{e}, u, regexp_replace(c, '/$', '', 'g') AS url FROM c3)"""


_URL_CANON_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_URL_VARIANT_SQL} AS u FROM documents),
{_url_canon_chain()}
SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
       CAST(count(DISTINCT u) AS BIGINT) AS n_variants
FROM canon GROUP BY url
"""


@register("ext_url_canonical", oracle=_URL_CANON_ORACLE)
def ext_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization census — the dedup pass every crawler
    frontier and link-corpus pipeline runs BEFORE fetching or joining
    on URLs: lowercase scheme+host, drop `www.`, strip fragments and
    `utm_*` tracking params, trim the trailing slash, then count
    references and surviving raw variants per canonical URL.
    (CommonCrawl-style pipelines key nearly everything on exactly
    this canonical form.)

    Engine-portability notes baked into the expression: the
    replacement step avoids regex BACKREFERENCES entirely (Spark
    wants `$1`, RE2 wants `\\1` — a silent divergence trap) by
    splitting scheme+host with `regexp_extract` and re-concatenating;
    DuckDB's `regexp_replace` gets the explicit `'g'` flag Spark
    implies. All patterns sit in the Java/RE2 common subset with the
    `(?i)` inline flag.

    Scale shape: canonicalization is scan-local codegen string work;
    the only shuffle is the canonical-URL-keyed count (+ distinct
    variant count, a two-phase agg on (url, u)). Hot URLs are real at
    crawl scale — the salted/AQE agg patterns apply unchanged."""
    d = load(spark, sf_dir, "documents")
    raw = d.select(_url_variant_col().alias("u"))
    canon = raw.select(F.col("u"), _url_canon_col().alias("url"))
    return canon.groupBy("url").agg(
        F.count("*").alias("n_refs"),
        F.countDistinct("u").alias("n_variants"),
    )


def _url_variant_col():
    """The deterministic synthetic raw-URL decoration (Spark twin of
    `_URL_VARIANT_SQL`) — expects `doc_id` in scope."""
    k = (F.col("doc_id") % 20).cast("string")
    p = (F.col("doc_id") % 25).cast("string")
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Mirror"), k, F.lit(".EXAMPLE.org/p/"), p, F.lit("/")
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://mirror"), k, F.lit(".example.org/p/"), p,
                F.lit("?utm_source=feed&utm_campaign=c"), p,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://mirror"), k, F.lit(".example.org/p/"), p, F.lit("#sec")
            )
        )
    )


def _url_canon_col():
    """The canonicalization expression (Spark twin of
    `_url_canon_chain`) — expects a column named `u` in scope; see
    `ext_url_canonical` for the engine-portability notes."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.expr(
                    "replace(concat(lower(regexp_extract(u, '(?i)^(https?://[^/]*)', 1)), "
                    "substr(u, length(regexp_extract(u, '(?i)^(https?://[^/]*)', 1)) + 1)), "
                    "'https://www.', 'https://')"
                ),
                r"#[^ ]*$",
                "",
            ),
            r"[?&]utm_[a-z]+=[^&# ]*",
            "",
        ),
        r"/$",
        "",
    )


# --------------- URL × content cross dedup (r13 add — r12 verdict
# item 3b: join URL-level dedup with content-level dedup into the
# re-crawl triage table)

# The fixture corpus has NO organic exact-text duplicates at the
# gate SF (measured: zero same-text groups at sf0.01, 8 at sf0.1),
# so the ingest plants the two scenarios this operator exists for —
# the `ext_sim_hamming_pairs` re-embed / `ext_dataset_diff` snapshot
# device: every URLX_REFETCH_MOD-th document also lands as an
# identical RE-FETCH of the same raw URL (offset id), and documents
# ≡ URLX_MIRROR_RES (mod URLX_MIRROR_MOD) also land under a
# different syndication host with identical content. Organic dup
# texts (present at sf0.1) flow through the same classification.
URLX_REFETCH_MOD = 5
URLX_MIRROR_MOD = 7
URLX_MIRROR_RES = 3
URLX_REFETCH_OFFSET = 10_000_000
URLX_MIRROR_OFFSET = 20_000_000

_URLX_MIRROR_URL_SQL = (
    "'https://syndic' || CAST(doc_id % 20 AS VARCHAR) "
    "|| '.example.net/p/' || CAST(doc_id % 25 AS VARCHAR)"
)

# The shared snapshot UNIVERSE (originals + planted re-fetches +
# planted mirrors, canonicalized) — ONE CTE text consumed by the
# cross-classification oracle AND the frontier-schedule oracle, so
# the two re-crawl operators can never disagree on what a snapshot
# is (the `_url_canon_chain` convention, one level up).
_URLX_UNIVERSE_CTES = f"""s0 AS (SELECT doc_id, md5(text) AS h, {_URL_VARIANT_SQL} AS u
            FROM documents),
raw AS (
  SELECT doc_id, h, u FROM s0
  UNION ALL
  SELECT doc_id + {URLX_REFETCH_OFFSET}, h, u FROM s0
  WHERE doc_id % {URLX_REFETCH_MOD} = 0
  UNION ALL
  SELECT doc_id + {URLX_MIRROR_OFFSET}, h, {_URLX_MIRROR_URL_SQL} FROM s0
  WHERE doc_id % {URLX_MIRROR_MOD} = {URLX_MIRROR_RES}),
{_url_canon_chain(", h")}"""

_URL_CONTENT_CROSS_ORACLE = f"""
WITH {_URLX_UNIVERSE_CTES},
rc AS (SELECT lag(doc_id) OVER w AS doc_a, doc_id AS doc_b,
              url AS url_a, url AS url_b,
              CASE WHEN lag(h) OVER w = h THEN 'recrawl_unchanged'
                   ELSE 'recrawl_changed' END AS relation
       FROM canon
       WINDOW w AS (PARTITION BY url
                    ORDER BY doc_id % {URLX_REFETCH_OFFSET}, doc_id)),
mir AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.url AS url_a, b.url AS url_b,
               'mirrored_content' AS relation
        FROM canon a JOIN canon b
        ON a.h = b.h AND a.doc_id < b.doc_id AND a.url <> b.url)
SELECT doc_a, doc_b, url_a, url_b, relation FROM rc WHERE doc_a IS NOT NULL
UNION ALL
SELECT doc_a, doc_b, url_a, url_b, relation FROM mir
"""


def _urlx_canon_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of `_URLX_UNIVERSE_CTES`: the canonicalized
    snapshot universe (doc_id, h, url) over originals + planted
    re-fetches + planted mirrors, shared by
    `ext_dedup_url_content_cross` and `ext_url_frontier_schedule`.
    Id-space guard: an organic doc_id at or above the re-fetch
    offset would silently merge snapshot identities (both engines
    apply the same union), so it fails loudly at the scan — the
    `_hamming_universe` doctrine."""
    id_guard = (
        f"CASE WHEN doc_id < {URLX_REFETCH_OFFSET} THEN doc_id "
        "ELSE raise_error(concat('url-content cross: organic doc_id ', "
        "cast(doc_id as string), "
        f"' >= URLX_REFETCH_OFFSET ({URLX_REFETCH_OFFSET}) — planted "
        "snapshot ids would collide with organic ids; raise the offset "
        "(text_analysis.URLX_REFETCH_OFFSET)')) END"
    )
    s0 = load(spark, sf_dir, "documents").select(
        F.expr(id_guard).alias("doc_id"),
        F.md5(F.col("text")).alias("h"),
        _url_variant_col().alias("u"),
    )
    mirror_u = F.concat(
        F.lit("https://syndic"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.net/p/"),
        (F.col("doc_id") % 25).cast("string"),
    )
    raw = (
        s0.unionByName(
            s0.filter(F.col("doc_id") % URLX_REFETCH_MOD == 0).select(
                (F.col("doc_id") + URLX_REFETCH_OFFSET).alias("doc_id"),
                "h",
                "u",
            )
        )
        .unionByName(
            s0.filter(
                F.col("doc_id") % URLX_MIRROR_MOD == URLX_MIRROR_RES
            ).select(
                (F.col("doc_id") + URLX_MIRROR_OFFSET).alias("doc_id"),
                "h",
                mirror_u.alias("u"),
            )
        )
    )
    return raw.select("doc_id", "h", _url_canon_col().alias("url"))


@register("ext_dedup_url_content_cross", oracle=_URL_CONTENT_CROSS_ORACLE)
def ext_dedup_url_content_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL × content CROSS dedup — the re-crawl triage table (r12
    verdict item 3b): canonical-URL identity (`ext_url_canonical`'s
    rules) joined against content identity (`ext_dedup_exact`'s
    fingerprint idea, md5 here so the oracle shares it) classifies
    every related document pair the way a crawl curator acts on it:

    - `recrawl_unchanged` — consecutive snapshots of the SAME
      canonical URL with identical content: the fetch was wasted;
      dedup keeps one and the scheduler should back off.
    - `recrawl_changed` — same canonical URL, content moved: a real
      page update; keep both versions (or the newest), and the URL
      is live — schedule it more often.
    - `mirrored_content` — identical content under DIFFERENT
      canonical URLs: a mirror/syndication cluster; content-level
      dedup must catch what URL-level dedup structurally cannot.

    The snapshot stream per URL is the fixture's synthetic variant
    decoration (same device as `ext_url_canonical` — doc_id mod 100
    keys the canonical page, so each page accumulates a re-crawl
    history), with planted re-fetches and mirror copies supplying
    the unchanged/mirrored scenarios (see the oracle comment — the
    `ext_sim_hamming_pairs` planted-scenario device; organic dup
    texts classify identically where the corpus has them). Snapshot
    order within a URL is (original id, generation) — the ordering
    key doc_id % offset puts each re-fetch directly after the fetch
    it re-serves, which is the crawl-time sequence. Both
    classification arms are window/join compositions of proven
    operators, and the oracle's canon chain is THE SAME CTE text as
    the census oracle (`_url_canon_chain`), so the two URL operators
    cannot drift. Id-space guard: an organic doc_id at or above the
    re-fetch offset would silently merge snapshot identities (both
    engines apply the same union), so it fails loudly at the scan —
    the `_hamming_universe` doctrine.

    Scale shape: the re-crawl arm is a lag window per canonical URL —
    one url-keyed shuffle, state = one previous row per URL, output
    linear in fetches (snapshot history per URL is
    crawl-cadence-bounded); the mirror arm is a content-hash
    equi-join whose group sizes are dup-multiplicity-bounded (the
    `ext_dedup_exact` cluster census shape — a pathological viral
    page is exactly the skew AQE's skew-join split handles, and the
    md5 key spreads uniformly otherwise). Text never shuffles —
    the md5 fingerprint is computed in the scan and 16 bytes ride
    the wire."""
    from pyspark.sql import Window as W

    # the slim (id, md5, url) snapshot table feeds the lag window and
    # BOTH sides of the mirror self-join — pin it or the scan +
    # decorate + canonicalize chain runs three times
    canon = compute_once(_urlx_canon_universe(spark, sf_dir))
    w = W.partitionBy("url").orderBy(
        F.col("doc_id") % URLX_REFETCH_OFFSET, "doc_id"
    )
    rc = (
        canon.select(
            F.lag("doc_id").over(w).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("url").alias("url_a"),
            F.col("url").alias("url_b"),
            F.when(
                F.lag("h").over(w) == F.col("h"), F.lit("recrawl_unchanged")
            )
            .otherwise(F.lit("recrawl_changed"))
            .alias("relation"),
        )
        .filter(F.col("doc_a").isNotNull())
    )
    a, b = canon.alias("a"), canon.alias("b")
    mir = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.url") != F.col("b.url")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            F.lit("mirrored_content").alias("relation"),
        )
    )
    return rc.unionByName(mir)


# ------------- re-crawl frontier scheduling (r13 add): the cadence
# planner a crawler derives FROM the cross table's change history

URLX_CADENCE_HOURLY_PM = 600  # change ratio ≥ 600‰ → hottest cadence
URLX_CADENCE_DAILY_PM = 300

_URL_FRONTIER_ORACLE = f"""
WITH {_URLX_UNIVERSE_CTES},
rc AS (SELECT url, lag(h) OVER w AS ph, h
       FROM canon
       WINDOW w AS (PARTITION BY url
                    ORDER BY doc_id % {URLX_REFETCH_OFFSET}, doc_id)),
st AS (SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
              CAST(sum(CASE WHEN ph IS NOT NULL AND ph <> h
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
              CAST(sum(CASE WHEN ph IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pairs
       FROM rc GROUP BY url)
SELECT url, n_fetches, n_changed,
       CASE WHEN n_pairs = 0 THEN NULL
            ELSE n_changed * 1000 // n_pairs END AS change_permille,
       CASE WHEN n_pairs = 0 THEN 'probe'
            WHEN n_changed * 1000 // n_pairs >= {URLX_CADENCE_HOURLY_PM}
              THEN 'fetch_hourly'
            WHEN n_changed * 1000 // n_pairs >= {URLX_CADENCE_DAILY_PM}
              THEN 'fetch_daily'
            WHEN n_changed > 0 THEN 'fetch_weekly'
            ELSE 'archive' END AS cadence
FROM st
"""


@register("ext_url_frontier_schedule", oracle=_URL_FRONTIER_ORACLE)
def ext_url_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl FRONTIER scheduling — the table a crawler's scheduler
    actually reads (r13): per canonical URL, the fetch count, how
    many consecutive-snapshot transitions changed content, the
    integer change ratio in permille, and the derived cadence
    recommendation — `fetch_hourly` (≥{URLX_CADENCE_HOURLY_PM}‰
    changed), `fetch_daily` (≥{URLX_CADENCE_DAILY_PM}‰),
    `fetch_weekly` (any change), `archive` (never changed), `probe`
    (single fetch, no evidence yet). This is the actionable consumer
    of `ext_dedup_url_content_cross`'s change history, the
    adaptive-revisit policy of production crawl frontiers
    (Cho & Garcia-Molina's revisit-frequency result, reduced to the
    integer evidence a 100 TB pipeline can maintain per URL).

    Shares the snapshot universe with the cross operator at the CTE
    level (`_URLX_UNIVERSE_CTES` / `_urlx_canon_universe` — one
    definition, two oracles) and the same lag-window ordering, so
    "changed" can never drift between classification and scheduling.
    Exactness: counts are BIGINTs, the ratio is integer floor
    permille, the CASE cuts sit on integer boundaries — no float
    ever touches the contract. Class coverage note (stated, not
    hidden): the fixture's decoration exercises probe / fetch_daily /
    fetch_hourly; weekly and archive need mostly-static snapshot
    histories the planted universe doesn't contain — the CASE arms
    are still engine-checked (both engines evaluate them on every
    row).

    Scale shape: one lag window per canonical URL (url-keyed
    shuffle, one previous row of state) feeding a url-keyed count
    agg with map-side partials — strictly cheaper than the cross
    table it summarizes; at crawl scale the frontier table is
    url-count-sized and replaces the per-URL scheduler state a
    frontier service keeps anyway."""
    from pyspark.sql import Window as W

    canon = _urlx_canon_universe(spark, sf_dir)
    w = W.partitionBy("url").orderBy(
        F.col("doc_id") % URLX_REFETCH_OFFSET, "doc_id"
    )
    rc = canon.select(
        "url", F.lag("h").over(w).alias("ph"), F.col("h")
    )
    st = rc.groupBy("url").agg(
        F.count("*").alias("n_fetches"),
        F.sum(
            F.when(
                F.col("ph").isNotNull() & (F.col("ph") != F.col("h")), 1
            ).otherwise(0)
        ).alias("n_changed"),
        F.sum(F.when(F.col("ph").isNotNull(), 1).otherwise(0)).alias(
            "n_pairs"
        ),
    )
    pm = F.expr("n_changed * 1000 div n_pairs")
    return st.select(
        "url",
        "n_fetches",
        "n_changed",
        F.when(F.col("n_pairs") == 0, F.lit(None).cast("long"))
        .otherwise(pm)
        .alias("change_permille"),
        F.when(F.col("n_pairs") == 0, F.lit("probe"))
        .when(pm >= URLX_CADENCE_HOURLY_PM, F.lit("fetch_hourly"))
        .when(pm >= URLX_CADENCE_DAILY_PM, F.lit("fetch_daily"))
        .when(F.col("n_changed") > 0, F.lit("fetch_weekly"))
        .otherwise(F.lit("archive"))
        .alias("cadence"),
    )


# ------------------------------------------- per-language top terms

TOPTERMS_PER_LANG_K = 5

_TOPTERMS_LANG_ORACLE = f"""
WITH t AS (SELECT coalesce(lang, 'und') AS lang, doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS term
           FROM documents),
dfreq AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS df
          FROM t WHERE term <> '' GROUP BY 1, 2),
ranked AS (SELECT lang, term, df,
        CAST(row_number() OVER (PARTITION BY lang
                                ORDER BY df DESC, term) AS BIGINT) AS rank
      FROM dfreq)
SELECT lang, term, df, rank FROM ranked WHERE rank <= {TOPTERMS_PER_LANG_K}
"""


@register("ext_topterms_per_lang", oracle=_TOPTERMS_LANG_ORACLE)
def ext_topterms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K terms by document frequency PER LANGUAGE — the per-group
    form of `ext_tfidf_topterms`' global top-20 (the per-language
    stopword/keyword profile a multilingual corpus report shows, and
    the seed list for per-language stopword filters). Deterministic
    tie-break: (df DESC, term ASC), identical rank on both engines.

    Scale shape: per-doc `array_distinct` before the explode (one row
    per (doc, term)), one (lang, term)-keyed count shuffle with
    map-side partials — then the rank window runs over the VOCAB-
    sized aggregate, and Spark's WindowGroupLimit pushes the K bound
    below the sort, so no partition ever sorts more than it keeps
    plus a bounded frontier. Never a global top-K over raw tokens."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    lang = F.coalesce(F.col("lang"), F.lit("und")).alias("lang")
    dfreq = (
        d.select(
            lang,
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(F.count("*").alias("df"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("df"), "term")
    return (
        dfreq.select(
            "lang", "term", "df", F.row_number().over(w).cast("long").alias("rank")
        )
        .filter(F.col("rank") <= TOPTERMS_PER_LANG_K)
    )


# ------------------------------------------- language-ID evaluation

# Confusion oracle wraps the REGISTERED fn_lang_detect oracle verbatim
# (same device as the shared minhash CTEs): the eval can never drift
# from the classifier it scores.
_LANG_EVAL_ORACLE = (
    "WITH base AS ({base}) "
    "SELECT coalesce(lang, 'und') AS true_lang, lang_guess AS pred_lang, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM base GROUP BY 1, 2"
)


def _lang_eval_oracle() -> str:
    return _LANG_EVAL_ORACLE.format(base=ORACLES["fn_lang_detect"])


@register("ext_lang_id_eval", oracle=None)
def ext_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the `fn_lang_detect` heuristic
    scored against the corpus's labeled lang column — the
    classifier-quality report run before trusting any lang-keyed
    curation decision (split quotas, per-lang quality gates, mixture
    weights all key on predicted language). Off-diagonal mass IS the
    curation risk, quantified.

    Oracle registered at import via the registry's fn_lang_detect
    SQL wrapped in one GROUP BY — eval and classifier share a single
    definition, so they cannot drift apart.

    Scale shape: the classifier is scan-local codegen
    (array_intersect over the split tokens); the matrix is one
    (true, pred) keyed count agg — ≤ langs² rows out of map-side
    partials."""
    base = ext_lang_detect(spark, sf_dir)
    return base.groupBy(
        F.coalesce(F.col("lang"), F.lit("und")).alias("true_lang"),
        F.col("lang_guess").alias("pred_lang"),
    ).agg(F.count("*").alias("n"))


ORACLES["ext_lang_id_eval"] = _lang_eval_oracle()


# ------------------------------------------- tokenize to vocab ids

VOCAB_K = 24  # top-K vocabulary; OOV maps to id = VOCAB_K
# (the synthetic corpus draws from a ~31-term pool, so K=24 makes the
# OOV path REAL at every SF; a production run sets K to 30k-100k)

_TOKENIZE_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
pos AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS p FROM t),
tok AS (SELECT doc_id, p, arr[CAST(p AS INT)] AS term FROM pos
        WHERE arr[CAST(p AS INT)] <> ''),
freq AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
ranked AS (SELECT term, row_number() OVER (ORDER BY c DESC, term) - 1 AS id
           FROM freq),
vocab AS (SELECT term, CAST(id AS BIGINT) AS id FROM ranked WHERE id < {VOCAB_K})
SELECT tok.doc_id,
       string_agg(CAST(coalesce(vocab.id, {VOCAB_K}) AS VARCHAR),
                  ' ' ORDER BY tok.p) AS ids,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN vocab.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov
FROM tok LEFT JOIN vocab USING (term)
GROUP BY tok.doc_id
"""


@register("ext_tokenize_ids", oracle=_TOKENIZE_ORACLE)
def ext_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize documents to vocabulary ids: corpus-frequency top-K
    vocab (rank = id, deterministic (count DESC, term) order), OOV →
    id K — the text→ids step between cleaning and
    `ext_pack_sequences` that every LM data pipeline runs, with the
    OOV count per doc as the vocabulary-coverage signal. Order
    preserved exactly: the i-th id in `ids` is token i of the
    document. `ids` is emitted as a space-joined STRING, not an
    array: the external harness canonicalizes results through pandas
    sort/hash, where a top-level array column is unhashable (the one
    red CORRECTNESS_r06 row) — the registry-wide no-complex-
    top-level-output contract is pinned by tests/test_registry.py.

    Scale shape: vocab build is one term-keyed count with map-side
    partials, then the top-K rank runs on the aggregated vocabulary
    and BROADCASTS (K is small by construction — the real-tokenizer
    analogue is a broadcast trie); tokenization is posexplode → 
    broadcast-hash lookup → one doc-keyed re-assembly agg whose
    shuffle carries (doc, pos, id) ints, never text. Docs with zero
    non-empty tokens are omitted on both engines (inner grouping)."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("p", "term"),
        )
        .filter(F.col("term") != "")
    )
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    from pyspark.sql import Window as W

    # top-K FIRST via orderBy().limit() => TakeOrderedAndProject
    # (distributed partial top-K merge); the unpartitioned rank
    # window then runs over K rows BY CONSTRUCTION — never a
    # single-partition sort of the full (at scale, huge) vocabulary
    topk = freq.orderBy(F.desc("c"), "term").limit(VOCAB_K)
    rank = F.row_number().over(W.orderBy(F.desc("c"), "term")) - 1
    vocab = topk.select("term", rank.cast("long").alias("id"))
    joined = tok.join(F.broadcast(vocab), "term", "left").select(
        "doc_id",
        "p",
        F.coalesce(F.col("id"), F.lit(VOCAB_K).cast("long")).alias("id"),
        F.col("id").isNull().alias("oov"),
    )
    return joined.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "id"))),
                lambda s: s["id"].cast("string"),
            ),
            " ",
        ).alias("ids"),
        F.count("*").alias("n_tokens"),
        F.sum(F.col("oov").cast("long")).alias("n_oov"),
    )


# ------------------------------------------- bigram PMI collocations

PMI_MIN_COUNT = 5  # noise floor for collocation candidates
PMI_TOP_K = 20

# THE adjacent-bigram device: one boundary-sensitive contract
# (position lattice, 1-based slicing, empty-token filter) stated once
# per engine and shared by ext_bigram_pmi, ext_token_entropy_rate,
# ext_lm_bigram_score and ext_keywords_textrank (r6 review
# consolidation — four in-lockstep copies collapsed to one).
_BI_POS_CTES = (
    "pos AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t),\n"
    "bi AS (SELECT w[CAST(i AS INT)] AS a, w[CAST(i AS INT) + 1] AS b FROM pos\n"
    "       WHERE w[CAST(i AS INT)] <> '' AND w[CAST(i AS INT) + 1] <> '')"
)

_BI_DOC_POS_CTES = (
    "pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) "
    "AS i FROM t),\n"
    "bi AS (SELECT doc_id, w[CAST(i AS INT)] AS a, "
    "w[CAST(i AS INT) + 1] AS b\n"
    "       FROM pos\n"
    "       WHERE w[CAST(i AS INT)] <> '' AND w[CAST(i AS INT) + 1] <> '')"
)


def _adjacent_bigrams(toks: DataFrame, carry: tuple = ()) -> DataFrame:
    """(carry..., a, b) rows of adjacent non-empty token pairs from a
    frame carrying token-array column `w` — the Spark twin of
    _BI_POS_CTES / _BI_DOC_POS_CTES."""
    return (
        toks.select(
            *carry,
            F.posexplode(F.expr("slice(w, 1, size(w) - 1)")).alias("i0", "a"),
            F.col("w"),
        )
        .select(*carry, "a", F.expr("w[i0 + 1]").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )



def _bi_doc_stream_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED doc-carried adjacent-bigram instance stream
    (doc_id, a, b) — the census PRE-AGGREGATION input (r14, verdict
    r13 item 3; the `lm_doc_scores` seam one n-gram up). Two
    consumers: `_bigram_census_pinned`'s build aggregates it into the
    (a, b, cab) census, and `ext_lm_bigram_score` joins its per-doc
    instances to the per-type scores — previously that query re-ran
    the whole scan-split-posexplode chain per invocation (its one
    >1.3×-frozen row in r13). Like the shingle relation, this pin is
    ~the size of the text it came from (one row per adjacent token
    pair), the documented corpus-sized-pin exception: one
    materialization vs two scan+explode re-derivations per bench
    pass, and the downstream census build becomes a cache-read agg."""

    def _build() -> DataFrame:
        toks = load(spark, sf_dir, "documents").select(
            "doc_id", F.split(F.col("text"), " ").alias("w")
        )
        return _adjacent_bigrams(toks, carry=("doc_id",))

    return session_pin(spark, sf_dir, "bi_doc_stream", _build)


def _bigram_census_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED adjacent-bigram census (a, b, cab) over the
    corpus tokenization (r13 optimization pass): `ext_bigram_pmi`,
    `ext_token_entropy_rate`, `ext_lm_bigram_score` and
    `ext_keywords_textrank` each re-ran the scan-explode-census chain
    per invocation; the census is vocab²-bounded and slim. Since r14
    the census aggregates the pinned doc-carried instance stream
    (`_bi_doc_stream_pinned`) — the added doc_id column changes no
    (a, b) instance multiset, so the census is bit-identical, and the
    scan-split-posexplode chain now exists ONCE per session for both
    the census and the per-doc LM score join."""

    def _build() -> DataFrame:
        return (
            _bi_doc_stream_pinned(spark, sf_dir)
            .groupBy("a", "b")
            .agg(F.count("*").alias("cab"))
        )

    return session_pin(spark, sf_dir, "bigram_census", _build)


_PMI_ORACLE = f"""
WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
uni AS (SELECT unnest(w) AS term FROM t),
u AS (SELECT term, CAST(count(*) AS BIGINT) AS c
      FROM uni WHERE term <> '' GROUP BY 1),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
{_BI_POS_CTES},
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bi),
b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_pair FROM bi GROUP BY 1, 2)
SELECT b2.a || ' ' || b2.b AS bigram, b2.n_pair,
       round(ln(CAST(b2.n_pair AS DOUBLE) * n.n * n.n
                / (CAST(m.m AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
FROM b2, n, m
JOIN u ua ON ua.term = b2.a
JOIN u ub ON ub.term = b2.b
WHERE b2.n_pair >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram LIMIT {PMI_TOP_K}
"""


@register("ext_bigram_pmi", oracle=_PMI_ORACLE)
def ext_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent-bigram collocations by pointwise mutual
    information — the association miner behind phrase detection
    (word2vec-style phrase merging, "new york"-type units before
    tokenizer training) and a boilerplate signal `ext_ngram_census`'s
    raw counts can't give (PMI surfaces pairs that co-occur far above
    chance, not just often). Noise floor n_pair >= 5.

    Bit-stable float contract: PMI = ln(n_pair·N²/(M·c_a·c_b))
    written as ONE identical expression tree on both engines, with
    the FIRST factor of numerator AND denominator cast to double so
    every product runs in float — int64 products of corpus-sized
    counts overflow at web scale (DuckDB raises, non-ANSI Spark
    silently wraps), so neither side may multiply BIGINTs. Rounded
    to 6dp — the
    `ext_tfidf_topterms` idf device, above ULP noise, below any
    ranking-relevant precision. Ties on rounded PMI break on the
    bigram string.

    Scale shape: two keyed count shuffles (unigram, bigram) with
    map-side partials; N and M join in as broadcast scalars; the
    unigram side joins the AGGREGATED bigram table (vocab²-bounded,
    post-floor far smaller). Top-K is TakeOrderedAndProject. The
    bigram explode is map-side — no pair-space blowup beyond
    adjacency."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("term")).filter(F.col("term") != "")
    # pin the two vocab-bounded censuses: N/both unigram sides read
    # one, M (pre-floor) and the floored pair table read the other —
    # otherwise five scan-explode chains (r6 scan audit: 5 document
    # scans before, 2 after)
    u = compute_once(uni.groupBy("term").agg(F.count("*").alias("c")))
    n = u.agg(F.sum("c").alias("n"))
    b2u = _bigram_census_pinned(spark, sf_dir).withColumnRenamed(
        "cab", "n_pair"
    )  # session pin (r13)
    m = b2u.agg(F.sum("n_pair").alias("m"))
    b2 = b2u.filter(F.col("n_pair") >= PMI_MIN_COUNT)
    ua = u.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    ub = u.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            F.col("n_pair").cast("double")
            * F.col("n")
            * F.col("n")
            / (F.col("m").cast("double") * F.col("ca") * F.col("cb"))
        ),
        6,
    )
    return (
        b2.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "n_pair",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOP_K)
    )


# -------------------------------------- exact stratified allocation

STRAT_SAMPLE = 100  # total sample size, allocated proportionally

_STRAT_ORACLE = f"""
WITH d AS (SELECT doc_id, coalesce(lang, 'und') AS lang FROM documents),
c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
a AS (SELECT lang, n, n * {STRAT_SAMPLE} // t.total AS base,
             (n * {STRAT_SAMPLE}) % t.total AS rem
      FROM c, t),
rk AS (SELECT lang, base, rem,
        row_number() OVER (ORDER BY rem DESC, lang) AS rr,
        (SELECT {STRAT_SAMPLE} - sum(base) FROM a) AS leftover
       FROM a),
al AS (SELECT lang,
        CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS alloc
       FROM rk),
r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      FROM d)
SELECT r.doc_id, r.lang, r.rn, al.alloc
FROM r JOIN al USING (lang) WHERE r.rn <= al.alloc
"""


@register("ext_sample_stratified_exact", oracle=_STRAT_ORACLE)
def ext_sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional stratified sample by largest-remainder
    (Hamilton) allocation: the TOTAL sample size is exact (100 docs),
    each language's share is floor(n·S/N) plus one for the largest
    fractional remainders — the balanced-eval-set allocator.
    `ext_sample_per_group` fixes a per-group quota and
    `ext_sample_mixture` a per-source rate; neither can promise an
    exact total under proportionality, which is this operator's
    whole contract.

    Determinism: allocation is pure integer arithmetic (floor-div,
    mod, remainder rank tie-broken on lang); within-language
    selection is the md5-key rank (`ext_sample_per_group`'s device).
    Row count is exactly S whenever the corpus has ≥ S docs.

    Scale shape: allocation runs on the LANGUAGE table — group-count
    cardinality, never corpus — so its unpartitioned remainder-rank
    window sees a handful of rows by construction (the
    `ext_tokenize_ids` bounded-window argument). Selection is one
    lang-keyed window with WindowGroupLimit bounding each sort at
    the language's allocation."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("und")).alias("lang")
    )
    # the language table feeds totals AND the allocation — pin it or
    # each branch replays the corpus count (r6 scan audit: 5
    # document scans before, 2 after — count pass + selection pass)
    c = compute_once(d.groupBy("lang").agg(F.count("*").alias("n")))
    t = c.agg(F.sum("n").alias("total"))
    a = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        F.expr(f"n * {STRAT_SAMPLE} div total").alias("base"),
        F.expr(f"(n * {STRAT_SAMPLE}) % total").alias("rem"),
    )
    leftover = a.agg(
        (F.lit(STRAT_SAMPLE) - F.sum("base")).alias("leftover")
    )
    rr = F.row_number().over(W.orderBy(F.desc("rem"), "lang"))
    al = (
        a.crossJoin(F.broadcast(leftover))
        .select("lang", "base", "leftover", rr.alias("rr"))
        .select(
            "lang",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
    )
    return r.join(F.broadcast(al), "lang").filter(
        F.col("rn") <= F.col("alloc")
    ).select("doc_id", "lang", "rn", "alloc")


# ------------------------------------------- hashtag/mention census

# The fixture text carries no social markup (the `ext_url_domains`
# device), so each doc is decorated with a deterministic hashtag and
# mention as pure functions of doc_id.
_TAGS_DECOR_SQL = (
    "text || ' #topic' || CAST(doc_id % 7 AS VARCHAR) "
    "|| ' @user' || CAST(doc_id % 13 AS VARCHAR)"
)

_TAGS_ORACLE = f"""
WITH dec AS (SELECT doc_id, {_TAGS_DECOR_SQL} AS t FROM documents),
h AS (SELECT doc_id, unnest(regexp_extract_all(t, '#[a-z0-9_]+')) AS tag,
             'hashtag' AS kind FROM dec
      UNION ALL
      SELECT doc_id, unnest(regexp_extract_all(t, '@[a-z0-9_]+')) AS tag,
             'mention' AS kind FROM dec)
SELECT tag, kind, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM h GROUP BY 1, 2
"""


@register("ext_social_tags", oracle=_TAGS_ORACLE)
def ext_social_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashtag / mention census — the reference's own domain (its
    dashboard reports by subreddit; a hashtag census is the same
    report for tag-addressed platforms): extract `#tag` and `@user`
    tokens and count distinct documents per marker. Both patterns
    sit in the Java/RE2 common subset; per-doc dedup via
    count(DISTINCT doc_id) so a tag spammed inside one doc counts
    once.

    Scale shape: extraction is scan-local `regexp_extract_all`
    codegen; the census is one (tag, kind)-keyed two-phase distinct
    agg. Viral tags are the canonical hot keys — the salted/AQE agg
    patterns apply unchanged."""
    d = load(spark, sf_dir, "documents")
    deco = F.concat(
        F.col("text"),
        F.lit(" #topic"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" @user"),
        (F.col("doc_id") % 13).cast("string"),
    )
    dec = d.select("doc_id", deco.alias("t"))
    h = dec.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(t, '#[a-z0-9_]+', 0)")).alias("tag"),
        F.lit("hashtag").alias("kind"),
    ).unionByName(
        dec.select(
            "doc_id",
            F.explode(F.expr("regexp_extract_all(t, '@[a-z0-9_]+', 0)")).alias("tag"),
            F.lit("mention").alias("kind"),
        )
    )
    return h.groupBy("tag", "kind").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )


# ------------------------------------------- per-doc curation scorecard

# Oracle assembled at import from the REGISTERED component oracles
# (quality gate, unigram LM, dup profile, lang detect) — the
# `ext_lang_id_eval` no-drift device, scaled up: the scorecard can
# never disagree with the operators it summarizes.
_SCORECARD_KEEP_DUP_MAX = 900  # permille; template suspects drop


def _scorecard_oracle() -> str:
    return f"""
WITH gate AS ({ORACLES["ext_quality_gate"]}),
lm AS ({ORACLES["ext_lm_unigram_score"]}),
dup AS ({ORACLES["ext_doc_dup_profile"]}),
lg AS ({ORACLES["fn_lang_detect"]})
SELECT d.doc_id,
       gate.doc_id IS NOT NULL AS gate_pass,
       lm.avg_logprob_micro,
       dup.dup_permille,
       coalesce(lg.lang_guess = lg.lang, FALSE) AS lang_match,
       (gate.doc_id IS NOT NULL
        AND coalesce(dup.dup_permille, 0) <= {_SCORECARD_KEEP_DUP_MAX})
         AS keep
FROM documents d
LEFT JOIN gate ON gate.doc_id = d.doc_id
LEFT JOIN lm ON lm.doc_id = d.doc_id
LEFT JOIN dup ON dup.doc_id = d.doc_id
JOIN lg ON lg.doc_id = d.doc_id
"""


@register("ext_curation_scorecard", oracle=None)
def ext_curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE curation decision table: every document with its quality-
    gate verdict, unigram-LM score, duplicate-shingle ratio, lang-ID
    agreement, and the composed keep flag (gate AND dup ≤ 900‰) —
    the per-doc artifact a corpus release materializes so every
    drop is auditable (datacards aggregate it; this is the row-level
    evidence). Composes four proven operators; the oracle is
    assembled verbatim from their REGISTERED oracle SQL so scorecard
    and components cannot drift.

    Scale shape: all four inputs are scan-local or
    one-keyed-shuffle passes already costed elsewhere; the scorecard
    adds doc_id-keyed left joins of narrow score columns — at 100 TB
    these run exchange-free over doc_id-bucketed score tables (the
    `ext_dedup_incremental_bucketed` layout), which is exactly how a
    release pipeline lays out per-doc metrics."""
    from ..operators.dedup import ext_doc_dup_profile

    d = load(spark, sf_dir, "documents").select("doc_id")
    gate = ext_quality_gate(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("g")
    )
    lm = _lm_doc_scores(spark, sf_dir).select("doc_id", "avg_logprob_micro")
    dup = ext_doc_dup_profile(spark, sf_dir).select("doc_id", "dup_permille")
    lg = ext_lang_detect(spark, sf_dir).select("doc_id", "lang", "lang_guess")
    out = (
        d.join(gate, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .join(lg, "doc_id")
    )
    gate_pass = F.coalesce(F.col("g"), F.lit(False))
    return out.select(
        "doc_id",
        gate_pass.alias("gate_pass"),
        "avg_logprob_micro",
        "dup_permille",
        F.coalesce(F.col("lang_guess") == F.col("lang"), F.lit(False)).alias(
            "lang_match"
        ),
        (
            gate_pass
            & (
                F.coalesce(F.col("dup_permille"), F.lit(0))
                <= _SCORECARD_KEEP_DUP_MAX
            )
        ).alias("keep"),
    )


# ensure the dup-profile oracle is registered even when this module
# is imported directly (registry.load_all imports dedup first, but a
# bare `import text_analysis` — e.g. from a test — does not)
from . import dedup as _dedup  # noqa: E402, F401

ORACLES["ext_curation_scorecard"] = _scorecard_oracle()


# --------------------------------------------- code-switching mixture

# every expression below derives from _LANG_MARKERS so a fifth
# language updates classifier, mixture audit, and oracle in lockstep
_MIX_LANGS_SQL = " + ".join(
    f"CAST((h_{lang} > 0) AS BIGINT)" for lang in _LANG_MARKERS
)
_MIX_HITS_SQL = " + ".join(f"h_{lang}" for lang in _LANG_MARKERS)
_LANGMIX_ORACLE = (
    "WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "h AS (SELECT doc_id, "
    + ", ".join(
        f"len(list_intersect(t, {_arr_lit(ws)})) AS h_{lang}"
        for lang, ws in _LANG_MARKERS.items()
    )
    + " FROM s) "
    f"SELECT doc_id, {_MIX_LANGS_SQL} AS n_langs_hit, "
    f"CAST({_MIX_HITS_SQL} AS BIGINT) AS n_marker_hits, "
    f"({_MIX_LANGS_SQL}) >= 2 AS is_mixed FROM h"
)


@register("ext_text_langmix", oracle=_LANGMIX_ORACLE)
def ext_text_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching detector: how many languages' stopword markers a
    document hits, total marker mass, and a mixed flag — the signal
    `fn_lang_detect`'s single winner hides. Mixed-language documents
    poison monolingual training mixtures (the winner label claims the
    whole doc) and are exactly what CCNet-style pipelines route to a
    separate bucket or drop; this quantifies the mixture instead of
    silently mislabeling it.

    Scale shape: identical to the classifier — scan-local
    `array_intersect` over the split tokens, zero shuffle, zero
    Python; shares the `_LANG_MARKERS` definition with
    `fn_lang_detect` so detector and mixture audit cannot drift."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in _LANG_MARKERS.items()
    }
    n_langs = sum(
        (h > 0).cast("long") for h in hits.values()
    )
    n_hits = sum(h.cast("long") for h in hits.values())
    return d.select(
        "doc_id",
        n_langs.alias("n_langs_hit"),
        n_hits.alias("n_marker_hits"),
        (n_langs >= 2).alias("is_mixed"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every corpus
# document by how much its hashed n-gram feature counts look like a
# TARGET domain vs the RAW corpus — the standard device for carving a
# domain-matched pretraining subset out of a web-scale crawl without
# training a classifier.

DSIR_BUCKETS = 1024  # hashed-feature dimensionality (B)
_DSIR_TARGET_LANG = "en"  # the fixture's stand-in target domain


def _dsir_feat_cte() -> str:
    """DuckDB CTE chain: (doc_id, is_target, bucket) rows — word
    unigrams + bigrams hashed into DSIR_BUCKETS buckets with the
    portable salted-md5 device."""
    from .dedup import _salted_hash_sql

    h = _salted_hash_sql("'ds'", "g")
    return (
        "toks AS (SELECT doc_id, lang = '" + _DSIR_TARGET_LANG + "' AS is_t, "
        "string_split(text, ' ') AS t FROM documents), "
        "grams AS ("
        "SELECT doc_id, is_t, unnest(t) AS g FROM toks "
        "UNION ALL "
        "SELECT doc_id, is_t, unnest(list_transform(range(1, len(t)), "
        "i -> t[i] || ' ' || t[i+1])) AS g FROM toks), "
        f"feat AS (SELECT doc_id, is_t, {h} % {DSIR_BUCKETS} AS b FROM grams)"
    )


_DSIR_ORACLE = (
    f"WITH {{feat}}, "
    "cnt AS (SELECT doc_id, max(is_t) AS is_t, b, count(*) AS c FROM feat "
    "GROUP BY doc_id, b), "
    "rb AS (SELECT b, sum(c) AS cr FROM cnt GROUP BY b), "
    "tb AS (SELECT b, sum(c) AS ct FROM cnt WHERE is_t GROUP BY b), "
    "tot AS (SELECT sum(c) AS r_tot, sum(CASE WHEN is_t THEN c ELSE 0 END) AS t_tot FROM cnt), "
    "w AS (SELECT rb.b, CAST(round((ln(coalesce(tb.ct, 0) + 1) "
    f"- ln(tot.t_tot + {DSIR_BUCKETS}) - ln(rb.cr + 1) "
    f"+ ln(tot.r_tot + {DSIR_BUCKETS})) * 1000000) AS BIGINT) AS mw "
    "FROM rb LEFT JOIN tb ON rb.b = tb.b CROSS JOIN tot), "
    "per_doc AS (SELECT cnt.doc_id, sum(cnt.c) AS n_feats, "
    "sum(cnt.c * w.mw) AS micro_logratio FROM cnt JOIN w ON cnt.b = w.b "
    "GROUP BY cnt.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats, "
    "CAST(coalesce(p.micro_logratio, 0) AS BIGINT) AS micro_logratio "
    "FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"
).format(feat=_dsir_feat_cte())


@register("ext_dsir_weights", oracle=_DSIR_ORACLE)
def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: hashed word-{1,2}-gram
    counts scored against Laplace-smoothed target (lang='en') vs raw
    bucket unigram models. Output (doc_id, n_feats, micro_logratio)
    with the log importance ratio in FIXED-POINT MICRO-NATS
    (sum of count x round(1e6 x per-bucket log ratio), a BIGINT):
    per-bucket weights are rounded ONCE from an identical scalar
    expression tree on both engines, then every downstream sum is
    integer arithmetic — no float-summation-order term in the
    contract (the `ext_bigram_pmi` overflow lesson applied ahead of
    time: |mw| < 21e6, c < 1e6, n_tokens < 1e6 keeps the sum far
    inside int64; resampling = sample with prob proportional to
    exp(micro_logratio/1e6)).

    Scale shape: features hash to ints in the scan (no gram text
    shuffles); per-(doc, bucket) counts reduce with map-side combine;
    the two distribution models are B=1024-row aggregates joined
    left and BROADCAST back onto the count stream, so the only
    non-broadcast shuffles are the compact (doc, bucket, count)
    aggs. Totals are 1-row scalar aggs crossJoin-broadcast — the
    repo's standard scalar device. At 100 TB nothing grows with the
    corpus except the (doc, bucket) stream. ONE corpus read: uni-
    and bigrams ride a single explode over the concatenated gram
    arrays (the first cut's union branch re-scanned and
    re-tokenized per arm), and the (doc, bucket, count) table is
    pinned with `compute_once` so the four model/total/per-doc
    branches don't each replay the scan-tokenize-hash chain (the
    r6 scan-multiplicity audit: 9 document scans before, 2 after
    — this at 100 TB is the whole bill)."""
    from .dedup import _salted_hash, _tokens

    # CPU-heavy hashing downstream: rebalance the small-SF single-file
    # scan across cores (same rationale as dedup._load_docs)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = d.select(
        "doc_id",
        (F.col("lang") == _DSIR_TARGET_LANG).alias("is_t"),
        _tokens(F.col("text")).alias("tk"),
    )
    from .dedup import gram_array_expr

    grams = toks.select(
        "doc_id",
        "is_t",
        F.explode_outer(
            F.concat(F.col("tk"), F.expr(gram_array_expr(2)))
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    feat = grams.select(
        "doc_id",
        "is_t",
        (_salted_hash(F.lit("ds"), F.col("g")) % DSIR_BUCKETS).alias("b"),
    )
    cnt = compute_once(
        feat.groupBy("doc_id", "b").agg(
            F.max("is_t").alias("is_t"), F.count("*").alias("c")
        )
    )
    rb = cnt.groupBy("b").agg(F.sum("c").alias("cr"))
    tb = cnt.filter("is_t").groupBy("b").agg(F.sum("c").alias("ct"))
    tot = cnt.agg(
        F.sum("c").alias("r_tot"),
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0)).alias("t_tot"),
    )
    mw = (
        F.round(
            (
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                - F.log(F.col("t_tot") + DSIR_BUCKETS)
                - F.log(F.col("cr") + 1)
                + F.log(F.col("r_tot") + DSIR_BUCKETS)
            )
            * 1000000
        )
        .cast("long")
        .alias("mw")
    )
    w = rb.join(tb, "b", "left").crossJoin(F.broadcast(tot)).select("b", mw)
    per_doc = (
        cnt.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("mw")).alias("micro_logratio"),
        )
    )
    base = load(spark, sf_dir, "documents").select("doc_id")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce(F.col("micro_logratio"), F.lit(0))
        .cast("long")
        .alias("micro_logratio"),
    )


# ---------------------------------------------------------------------------
# Training-mixture schedule: given target domain weights, turn corpus
# inventory into the sampling plan (rate + epochs per domain) a
# pretraining data loader executes — the "data recipe" table every
# LLM run publishes (LLaMA/Pile-style lang/domain weighting).

_MIX_TARGETS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("de", 0.15), ("fr", 0.15))


def _mix_targets_values() -> str:
    return ", ".join(f"('{l}', {w})" for l, w in _MIX_TARGETS)


_MIX_ORACLE = (
    "WITH inv AS (SELECT lang, count(*) AS n_docs, "
    "sum(len(string_split(trim(text), ' '))) AS n_tokens FROM documents GROUP BY lang), "
    "tot AS (SELECT sum(n_tokens) AS total_tokens FROM inv), "
    f"tgt0(lang, tsd) AS (VALUES {_mix_targets_values()}), "
    "tgt AS (SELECT lang, CAST(tsd AS DOUBLE) AS target_share FROM tgt0) "
    "SELECT inv.lang, CAST(inv.n_docs AS BIGINT) AS n_docs, "
    "CAST(inv.n_tokens AS BIGINT) AS n_tokens, "
    "round(CAST(inv.n_tokens AS DOUBLE) / tot.total_tokens, 6) AS natural_share, "
    "coalesce(tgt.target_share, 0.0) AS target_share, "
    "round(coalesce(tgt.target_share, 0.0) * tot.total_tokens / inv.n_tokens, 6) "
    "AS sampling_rate, "
    "CAST(ceil(coalesce(tgt.target_share, 0.0) * tot.total_tokens / inv.n_tokens) "
    "AS BIGINT) AS epochs "
    "FROM inv LEFT JOIN tgt ON inv.lang = tgt.lang CROSS JOIN tot"
)


@register("ext_mixture_schedule", oracle=_MIX_ORACLE)
def ext_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture schedule: per language, corpus inventory (docs,
    whitespace tokens, natural share) plus the sampling rate and
    epoch count that realize the configured target mixture
    (`_MIX_TARGETS`) over this corpus — rate > 1 means the domain is
    upsampled (multiple passes), < 1 downsampled. The executable side
    of `ext_sample_mixture`: that op draws the sample, this one
    derives the plan a loader (or that op's config) consumes.

    Float terms (shares, rates) are single identical expression
    trees over exact integer token counts, rounded to 6dp — the PMI
    contract class; epochs applies ceil BEFORE any rounding so the
    integer is the true plan value.

    Scale shape: one lang-keyed agg over the scan (token counting is
    scan-local arithmetic), a 1-row total crossJoin-broadcast, and a
    literal 5-row target table broadcast onto the inventory — at
    100 TB this is a metadata-sized query over any corpus."""
    d = load(spark, sf_dir, "documents")
    # the |langs|-row inventory feeds the total AND the plan — pin it
    # (r6 scan audit)
    inv = compute_once(
        d.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col("text")), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    tot = inv.agg(F.sum("n_tokens").alias("total_tokens"))
    tgt = literal_frame(
        d.sparkSession, list(_MIX_TARGETS), "lang string, target_share double"
    )
    ts = F.coalesce(F.col("target_share"), F.lit(0.0))
    rate_expr = ts * F.col("total_tokens") / F.col("n_tokens")
    return (
        inv.join(F.broadcast(tgt), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total_tokens"), 6).alias(
                "natural_share"
            ),
            ts.alias("target_share"),
            F.round(rate_expr, 6).alias("sampling_rate"),
            F.ceil(rate_expr).cast("long").alias("epochs"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021, Table A1): character-MASS
# repetition signals — the fraction of a document's characters covered
# by its most frequent word-2-gram and by its within-doc-duplicated
# word-5-grams. `ext_text_repetition` counts repeated bigram
# OCCURRENCES; Gopher weighs them by the characters they consume,
# which is what actually bloats a training token budget. (The line/
# paragraph rules of the paper need multi-line documents; this corpus
# is single-line, so the n-gram family is the applicable subset.
# Overlapping occurrences double-count char mass on BOTH engines —
# the standard cheap formulation.)

GOPHER_TOP2_MAX = 0.20
GOPHER_DUP5_MAX = 0.15


def _gram_cte(n: int, name: str) -> str:
    parts = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return (
        f"{name} AS (SELECT doc_id, unnest(list_transform("
        f"range(1, len(t) - {n - 2}), i -> {parts})) AS g FROM toks)"
    )


_GOPHER_ORACLE = (
    "WITH toks AS (SELECT doc_id, "
    "string_split(text, ' ') AS t FROM documents), "
    + _gram_cte(2, "g2")
    + ", c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY ALL), "
    "top2 AS (SELECT doc_id, max({'c': c, 'gl': length(g), 'g': g}) AS m "
    "FROM c2 GROUP BY doc_id), "
    + _gram_cte(5, "g5")
    + ", c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY ALL), "
    "dup5 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS mass "
    "FROM c5 GROUP BY doc_id) "
    "SELECT d.doc_id, "
    "round(CAST(coalesce(t.m.c * t.m.gl, 0) AS DOUBLE) / length(d.text), 6) "
    "AS top2_char_frac, "
    "round(CAST(coalesce(p.mass, 0) AS DOUBLE) / length(d.text), 6) AS dup5_char_frac, "
    f"(round(CAST(coalesce(t.m.c * t.m.gl, 0) AS DOUBLE) / length(d.text), 6) <= {GOPHER_TOP2_MAX} "
    f"AND round(CAST(coalesce(p.mass, 0) AS DOUBLE) / length(d.text), 6) <= {GOPHER_DUP5_MAX}) AS gopher_ok "
    "FROM documents d LEFT JOIN top2 t ON d.doc_id = t.doc_id "
    "LEFT JOIN dup5 p ON d.doc_id = p.doc_id"
)


@register("ext_gopher_repetition", oracle=_GOPHER_ORACLE)
def ext_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher character-mass repetition gate: per document, the char
    fraction of the most frequent word-2-gram and of within-doc-
    duplicated word-5-grams, plus the combined keep flag at the
    paper's thresholds (0.20 / 0.15). The tie-break for "most
    frequent 2-gram" is (count, char length, gram) so both engines
    pick the same winner deterministically.

    Scale shape: both signals are (doc, gram)-keyed counts — the
    gram explode never leaves its document, so the aggregation key
    space is per-doc-bounded and shuffles carry compact count rows;
    winner selection is an algebraic max_by (map-side combine), never
    a window. Ratios divide exact integers once, rounded to 6dp (the
    PMI contract class). The tokenized frame is pinned with
    `compute_once` — the 2-gram and 5-gram signals otherwise each
    replay the scan-split chain (r6 scan audit: 3 document scans
    before, 2 after — the doc-length base pass stays a slim scan)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = compute_once(d.select("doc_id", F.split("text", " ").alias("tk")))

    from .dedup import gram_array_expr

    def grams(n: int):
        return F.expr(gram_array_expr(n))

    c2 = (
        toks.select("doc_id", F.explode_outer(grams(2)).alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    top2 = c2.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"),
                F.length("g").alias("gl"),
                F.col("g").alias("g"),
            )
        ).alias("m")
    ).select(
        "doc_id", (F.col("m.c") * F.col("m.gl")).alias("top2_mass")
    )
    c5 = (
        toks.select("doc_id", F.explode_outer(grams(5)).alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    dup5 = c5.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(0)
        ).alias("mass")
    )
    base = load(spark, sf_dir, "documents").select("doc_id", F.length("text").alias("len"))
    # empty-doc pin (r7 degenerate-input sweep): length 0 makes both
    # fractions undefined — DuckDB's double division by zero already
    # reads NULL (and NULL <= threshold makes gopher_ok NULL), while
    # Spark's raw division is an ANSI DIVIDE_BY_ZERO crash; nullif
    # converges the engines. Empty documents are routine upstream of
    # a quality gate — the gate must classify them, not die.
    dlen = F.nullif(F.col("len").cast("double"), F.lit(0.0))
    t2 = F.round(
        F.coalesce(F.col("top2_mass"), F.lit(0)).cast("double") / dlen, 6
    )
    d5 = F.round(F.coalesce(F.col("mass"), F.lit(0)).cast("double") / dlen, 6)
    return (
        base.join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            t2.alias("top2_char_frac"),
            d5.alias("dup5_char_frac"),
            ((t2 <= GOPHER_TOP2_MAX) & (d5 <= GOPHER_DUP5_MAX)).alias("gopher_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility / compression audit: bytes-per-token and
# tokens-per-word per language — the standard tokenizer-equity report
# (a tokenizer trained on English typically pays 2-4x more tokens per
# byte on other scripts; this table is how that gets caught before a
# training run budgets its epochs).

_FERTILITY_ORACLE = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes, "
    "CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS ws_tokens, "
    "CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]'))) AS BIGINT) "
    "AS bpe_ish_tokens, "
    "round(CAST(sum(octet_length(encode(text))) AS DOUBLE) / "
    "sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]'))), 6) "
    "AS bytes_per_token, "
    "round(CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]'))) AS DOUBLE) / "
    "sum(len(string_split(trim(text), ' '))), 6) AS tokens_per_word "
    "FROM documents GROUP BY lang"
)


@register("ext_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: UTF-8 bytes, whitespace
    words, BPE-ish tokens (`ext_token_count`'s two definitions lifted
    to corpus grain), and the two derived ratios — bytes/token
    (compression) and tokens/word (fertility). The mixture-schedule
    companion: `ext_mixture_schedule` plans by token budget, this
    table says what a token COSTS per language.

    Scale shape: pure scan-local token arithmetic feeding ONE
    lang-keyed agg with map-side partial sums — a metadata-sized
    result at any corpus size; ratios are single divisions of exact
    BIGINTs, rounded 6dp."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]', 0)")
    ).cast("long")
    nb = F.length(F.encode(F.col("text"), "UTF-8")).cast("long")
    agg = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(nb).alias("n_bytes"),
        F.sum(ws).alias("ws_tokens"),
        F.sum(bpe).alias("bpe_ish_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_bytes",
        "ws_tokens",
        "bpe_ish_tokens",
        F.round(
            F.col("n_bytes").cast("double") / F.col("bpe_ish_tokens"), 6
        ).alias("bytes_per_token"),
        F.round(
            F.col("bpe_ish_tokens").cast("double") / F.col("ws_tokens"), 6
        ).alias("tokens_per_word"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix: for every pair of sources, how much
# 5-gram vocabulary they share — the feed-provenance audit that
# catches mirrored/syndicated feeds and template families BETWEEN
# sources before they skew a mixture (the corpus-level companion of
# `ext_dedup_cross_source`, which adjudicates individual documents).

_OVERLAP_K = 5

_OVERLAP_ORACLE = (
    "WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents), "
    f"sg AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(t) - {_OVERLAP_K - 2}), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g "
    "FROM toks), "
    "tot AS (SELECT source, count(*) AS n FROM sg GROUP BY source), "
    "pairs AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams "
    "FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2) "
    "SELECT p.src_a, p.src_b, CAST(p.shared_grams AS BIGINT) AS shared_grams, "
    "round(CAST(p.shared_grams AS DOUBLE) / (ta.n + tb.n - p.shared_grams), 6) AS jaccard "
    "FROM pairs p JOIN tot ta ON p.src_a = ta.source JOIN tot tb ON p.src_b = tb.source"
)


@register("ext_source_overlap_matrix", oracle=_OVERLAP_ORACLE)
def ext_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: distinct word-5-grams shared
    by each source pair, plus the gram-set Jaccard. Output is at most
    |sources|² rows — a wall-chart-sized audit over any corpus.

    Scale shape: grams reduce to 60-bit salted hashes IN THE SCAN
    and are made distinct per source BEFORE the pair join, so the
    join input is one row per (gram, source) — never per occurrence;
    a gram present in k sources expands to C(k,2) pair rows, bounded
    by |sources|², not corpus size. Per-source totals are a
    |sources|-row broadcast. (Hash-for-gram equality absent 60-bit
    collisions, the `ext_dup_span_profile` caveat.)"""
    from .dedup import _salted_hash, gram_array_expr

    d = load(spark, sf_dir, "documents").select("source", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    grams = (
        d.withColumn("tk", F.split("text", " "))
        .select(
            "source",
            F.explode_outer(F.expr(gram_array_expr(_OVERLAP_K))).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("source", _salted_hash(F.lit("ov"), F.col("g")).alias("gh"))
        .distinct()
    )
    # the distinct (source, gram) postings feed totals AND both pair
    # sides — pin them or all three replay the scan-gram-distinct
    # chain (r6 scan audit: 4 document scans before, 1 after)
    grams = compute_once(grams)
    tot = grams.groupBy("source").agg(F.count("*").alias("n"))
    a = grams.withColumnRenamed("source", "src_a")
    b = grams.withColumnRenamed("source", "src_b")
    pairs = (
        a.join(b, (a.gh == b.gh) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_grams"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Train/test split leakage audit: how much of each TEST document's
# content already exists in the TRAIN split — the eval-integrity
# check run on every corpus release (`ext_data_split` assigns the
# splits; `ext_contamination_check` guards an EXTERNAL benchmark;
# this guards the corpus's own held-out split, where leakage silently
# inflates eval numbers).

_LEAK_K = 5

_LEAK_ORACLE = (
    "WITH toks AS (SELECT doc_id, "
    f"{doc_bucket_sql('doc_id')} AS b, string_split(text, ' ') AS t FROM documents), "
    f"sg AS (SELECT DISTINCT doc_id, b, unnest(list_transform(range(1, len(t) - {_LEAK_K - 2}), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g "
    "FROM toks), "
    "train_g AS (SELECT DISTINCT g FROM sg WHERE b < 8), "
    "test_g AS (SELECT doc_id, g FROM sg WHERE b >= 9), "
    "per AS (SELECT t.doc_id, count(*) AS n_grams, "
    "sum(CASE WHEN EXISTS (SELECT 1 FROM train_g WHERE train_g.g = t.g) "
    "THEN 1 ELSE 0 END) AS grams_in_train FROM test_g t GROUP BY t.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams, "
    "CAST(coalesce(p.grams_in_train, 0) AS BIGINT) AS grams_in_train, "
    "CASE WHEN coalesce(p.n_grams, 0) > 0 "
    "THEN round(CAST(p.grams_in_train AS DOUBLE) / p.n_grams, 6) ELSE 0.0 END AS leak_frac "
    f"FROM (SELECT doc_id FROM documents WHERE {doc_bucket_sql('doc_id')} >= 9) d "
    "LEFT JOIN per p ON d.doc_id = p.doc_id"
)


@register("ext_split_leakage", oracle=_LEAK_ORACLE)
def ext_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-document leakage against the train split: the
    fraction of the doc's DISTINCT word-5-grams that occur anywhere
    in train (`ext_data_split`'s bucket assignment: <8 train,
    >=9 test). leak_frac near 1 means the held-out doc is
    effectively memorizable from train — drop or re-split it.

    Scale shape: grams reduce to 60-bit hashes in the scan and are
    per-doc DISTINCT before any join (one row per (doc, gram)); the
    train-gram set is gram-keyed DISTINCT and the membership probe is
    ONE hash join on 8-byte keys — at 100 TB this is the bloom-probe
    shape (`ext_dedup_incremental_bloom`'s filter would front it).
    No pair space: a test doc never meets a train DOC, only the gram
    set. (Hash-equality caveat as `ext_dup_span_profile`.)"""
    from .dedup import _salted_hash, gram_array_expr

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    bucket = doc_bucket("doc_id")
    sg = (
        d.withColumn("b", bucket)
        .withColumn("tk", F.split("text", " "))
        .select(
            "doc_id",
            "b",
            F.explode_outer(
                F.expr(gram_array_expr(_LEAK_K, distinct=True))
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("doc_id", "b", _salted_hash(F.lit("lk"), F.col("g")).alias("gh"))
    )
    # the hashed gram stream splits into train/test arms — pin it or
    # both replay the scan-gram-hash chain (r6 scan audit)
    sg = compute_once(sg)
    train_g = sg.filter(F.col("b") < 8).select("gh").distinct().withColumn(
        "hit", F.lit(True)
    )
    test_g = sg.filter(F.col("b") >= 9).select("doc_id", "gh")
    per = (
        test_g.join(train_g, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("grams_in_train"),
        )
    )
    base = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(doc_bucket("doc_id") >= 9)
    )
    n = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    hits = F.coalesce(F.col("grams_in_train"), F.lit(0)).cast("long")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        n.alias("n_grams"),
        hits.alias("grams_in_train"),
        F.when(n > 0, F.round(hits.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("leak_frac"),
    )


# ---------------------------------------------------------------------------
# DSIR resampling — the EXECUTION step of `ext_dsir_weights`: keep
# each document with probability proportional to exp(weight),
# deterministically (fixed per-doc uniform from the portable salted
# hash; acceptance p = exp(w - w_max) in (0, 1], so the best-matched
# doc is always kept). Weights + resample together are the full DSIR
# pipeline: score, then draw the domain-matched subset.

_U60 = float(1 << 60)


def _resample_oracle() -> str:
    from .dedup import _salted_hash_sql

    u = _salted_hash_sql("'rs'", "CAST(d.doc_id AS VARCHAR)")
    return (
        f"WITH dsir AS ({_DSIR_ORACLE}), "
        "mx AS (SELECT max(micro_logratio) AS m FROM dsir) "
        f"SELECT d.doc_id, d.micro_logratio, "
        f"CAST({u} AS DOUBLE) / {_U60} "
        "< exp((d.micro_logratio - mx.m) / 1000000.0) AS keep "
        "FROM dsir d CROSS JOIN mx"
    )


@register("ext_dsir_resample", oracle=_resample_oracle())
def ext_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: every document kept with
    probability exp(weight - max_weight), using a DETERMINISTIC
    per-doc uniform (salted-md5 / 2^60) instead of an RNG — the
    subset is a pure function of the corpus, reproducible across
    runs, engines and partitionings (the `ext_data_split` philosophy
    applied to probabilistic sampling). Composes `ext_dsir_weights`
    verbatim — the oracle embeds that operator's registered SQL as a
    CTE (the `ext_curation_scorecard` no-drift device).

    Scale shape: the weight table's shuffles (see
    `ext_dsir_weights`), plus ONE 1-row max crossJoin-broadcast and
    a scan-local accept expression — the resample itself adds zero
    data motion. The weight table is pinned with `compute_once`: the
    max branch and the accept branch would otherwise each replay the
    ENTIRE weights chain (the r6 scan-multiplicity audit's worst
    case, 18 document scans; now the chain runs once and the slim
    (doc_id, 2 longs) frame feeds both). The uniform and the
    acceptance threshold are each single shared expression trees
    (exp of an exact integer difference), the PMI contract class."""
    from .dedup import _salted_hash

    w = compute_once(ext_dsir_weights(spark, sf_dir))
    mx = w.agg(F.max("micro_logratio").alias("m"))
    u = _salted_hash(F.lit("rs"), F.col("doc_id").cast("string")).cast(
        "double"
    ) / F.lit(_U60)
    p = F.exp((F.col("micro_logratio") - F.col("m")) / F.lit(1000000.0))
    return w.crossJoin(F.broadcast(mx)).select(
        "doc_id", "micro_logratio", (u < p).alias("keep")
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking — the RAG/retrieval indexing primitive:
# fixed-width overlapping word windows with a stride, each chunk
# carrying its provenance (doc, index, start) and a content hash for
# the downstream embedding/dedup stages. `ext_dedup_cdc` cuts
# variable chunks for DEDUP alignment; retrieval wants fixed-budget
# overlapping spans so no answer straddles a boundary unseen.

CHUNK_W = 32  # words per chunk
CHUNK_STRIDE = 24  # 8-word overlap


def _chunk_oracle() -> str:
    W, S = CHUNK_W, CHUNK_STRIDE
    start = f"least(c * {S} + 1, greatest(len(t) - {W} + 1, 1))"
    sl = f"t[{start} : {start} + {W} - 1]"
    return (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
        f"cnt AS (SELECT doc_id, t, CASE WHEN len(t) <= {W} THEN 1 "
        f"ELSE (len(t) - {W} + {S} - 1) // {S} + 1 END AS nch FROM toks), "
        "ch AS (SELECT doc_id, unnest(list_transform(range(0, nch), "
        f"c -> {{'idx': c, 'start': {start}, "
        f"'txt': array_to_string({sl}, ' '), 'n': len({sl})}})) AS s FROM cnt) "
        "SELECT doc_id, CAST(s.idx AS BIGINT) AS chunk_idx, "
        "CAST(s.start AS BIGINT) AS start_pos, CAST(s.n AS BIGINT) AS n_tokens, "
        "md5(s.txt) AS chunk_hash FROM ch"
    )


_CHUNK_ORACLE = _chunk_oracle()


@register("ext_chunk_sliding", oracle=_CHUNK_ORACLE)
def ext_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk index: every document cut into
    32-word chunks at stride 24 (8-word overlap), emitting
    (doc_id, chunk_idx, start_pos, n_tokens, chunk_hash) — the table
    a RAG pipeline embeds and a passage-dedup pass consumes. Chunk
    text itself is reduced to an md5 IN THE EMITTING EXPRESSION, so
    the chunk index is join-ready without carrying text. The FINAL
    chunk is right-aligned to the document end (start clamped to
    n-W+1), so every chunk carries new coverage and none is a strict
    subset of its predecessor — the degenerate-tail defect the naive
    while-start<=n cut produces.

    Scale shape: pure scan-local Generate (transform + explode) —
    ZERO shuffle; output is ~n_tokens/24 rows per doc with ~33%
    byte overhead from overlap, the standard retrieval trade. Spark
    `slice` and DuckDB's INCLUSIVE list slicing are aligned by
    construction (slice(tk, start, 32) == t[start : start+31])."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    W, S = CHUNK_W, CHUNK_STRIDE
    start = f"least(c * {S} + 1, greatest(size(tk) - {W} + 1, 1))"
    ch = F.expr(
        f"transform(sequence(0, (CASE WHEN size(tk) <= {W} THEN 1 "
        f"ELSE (size(tk) - {W} + {S} - 1) div {S} + 1 END) - 1), "
        f"c -> named_struct("
        f"'idx', cast(c as bigint), "
        f"'start', cast({start} as bigint), "
        f"'txt', concat_ws(' ', slice(tk, {start}, {W})), "
        f"'n', cast(size(slice(tk, {start}, {W})) as bigint)))"
    )
    return (
        d.withColumn("tk", F.split("text", " "))
        .select("doc_id", F.explode(ch).alias("s"))
        .select(
            "doc_id",
            F.col("s.idx").alias("chunk_idx"),
            F.col("s.start").alias("start_pos"),
            F.col("s.n").alias("n_tokens"),
            F.md5(F.col("s.txt")).alias("chunk_hash"),
        )
    )


# ------------------------------------- span-corruption masking plan

SPAN_MASK_PERMILLE = 150  # ~15% token corruption (T5 denoising default)

_MASK_FLAGS_SPARK = (
    "transform(sequence(1, size(tk)), i -> CASE WHEN "
    "CAST(conv(substring(md5(concat_ws(':', 'msk', CAST(doc_id AS STRING), "
    "CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT) "
    f"% 1000 < {SPAN_MASK_PERMILLE} THEN 1 ELSE 0 END)"
)

_SPAN_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
f AS (SELECT doc_id, len(tk) AS n_tokens,
        list_transform(range(1, len(tk) + 1), i -> CASE WHEN
          CAST(('0x' || substr(md5(concat_ws(':', 'msk', CAST(doc_id AS VARCHAR),
          CAST(i AS VARCHAR))), 1, 15)) AS BIGINT)
          % 1000 < {SPAN_MASK_PERMILLE} THEN 1 ELSE 0 END) AS fl
      FROM d)
SELECT doc_id, n_tokens,
       CAST(list_sum(fl) AS BIGINT) AS n_masked,
       CAST(list_sum(list_transform(range(1, len(fl) + 1),
          i -> fl[i] * (CASE WHEN i = 1 THEN 1 ELSE 1 - fl[i-1] END)))
         AS BIGINT) AS n_spans,
       round(CAST(list_sum(fl) AS BIGINT) * 1.0 / n_tokens, 6) AS mask_rate
FROM f
"""


@register("ext_span_corruption_plan", oracle=_SPAN_ORACLE)
def ext_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption PLAN: a deterministic per-token
    mask decision (salted md5 on (doc_id, position), ~15%) and the
    resulting span statistics — tokens masked and contiguous mask
    spans (a span starts where a masked token follows an unmasked
    one). This is the denoising-objective preprocessing a training
    pipeline runs ahead of batch assembly: the plan must be a pure
    function of (doc_id, position) so re-runs, retries and
    shard-level recomputation mask identical spans — no RNG state to
    checkpoint, the same property all repo sampling/split operators
    build on (`ext_data_split`, `ext_sample_mixture`).

    Scale shape: everything is per-row higher-order-function
    arithmetic inside the scan — zero shuffle, zero Python, embarrassingly
    parallel; output is 4 ints + 1 rounded rate per doc. The mask
    RATE is permille-exact by construction; actual span lengths
    follow the geometric profile the masked-LM literature assumes."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    f = d.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.expr(_MASK_FLAGS_SPARK).alias("fl"),
    )
    n_masked = F.expr("aggregate(fl, 0L, (a, x) -> a + x)")
    # NOTE 1-based sequence, 0-based Spark array indexing (fl[i-1]);
    # the DuckDB oracle indexes the same positions 1-based (fl[i])
    spans = F.expr(
        "aggregate(transform(sequence(1, size(fl)), "
        "i -> fl[i-1] * (CASE WHEN i = 1 THEN 1 ELSE 1 - fl[i-2] END)), "
        "0L, (a, x) -> a + x)"
    )
    return f.select(
        "doc_id",
        "n_tokens",
        n_masked.alias("n_masked"),
        spans.alias("n_spans"),
        F.round(n_masked * 1.0 / F.col("n_tokens"), 6).alias("mask_rate"),
    )


# --------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "spark", "vector", "window")
BM25_TOP_K = 20

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# The WITH-body through `ds` (per-doc fixed-point BM25 scores) is a
# SHARED fragment: ext_bm25_topk ranks it directly and
# ext_hybrid_rank_fusion (similarity.py) fuses it with the int8
# vector ranking — one scoring definition, two consumers.
BM25_DS_CTES = f"""d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
dl AS (SELECT doc_id, len(tk) AS dl FROM d),
tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
sc AS (SELECT tf.doc_id,
         CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * {BM25_K1 + 1.0})
           / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl
              / (CAST(sum_dl AS DOUBLE) / n_docs)))
           * 1000000.0) AS BIGINT) AS s
       FROM tf JOIN dl ON dl.doc_id = tf.doc_id
       JOIN dfq ON dfq.term = tf.term CROSS JOIN st),
ds AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_micros,
         count(*) AS n_terms_hit FROM sc GROUP BY doc_id)"""

_BM25_ORACLE = f"""
WITH {BM25_DS_CTES}
SELECT doc_id, score_micros, n_terms_hit, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score_micros DESC, doc_id) AS rank
  FROM ds) WHERE rank <= {BM25_TOP_K}
"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `BM25_DS_CTES`: per-doc fixed-point BM25 scores
    (doc_id, score_micros, n_terms_hit) for the fixed query — shared
    by `ext_bm25_topk` and `ext_hybrid_rank_fusion`. SESSION-PINNED
    since r13 (optimization pass): both consumers re-ran the corpus
    scoring pass per invocation; the frame is doc-keyed and slim."""
    return session_pin(
        spark, sf_dir, "bm25_scored", lambda: _bm25_scored_build(spark, sf_dir)
    )


def _bm25_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    # the (doc, length) frame feeds corpus stats AND the score join;
    # the |Q|-bounded postings feed df AND the score join — pin both
    # or each consumer replays its scan chain (r6 scan audit: 4
    # document scans before, 2 after: one length pass + one
    # term-filtered postings pass, the inverted-index probe)
    dl = compute_once(d.select("doc_id", F.size("tk").cast("long").alias("dl")))
    tf = compute_once(
        d.select("doc_id", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    st = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = F.round(
        idf
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl))
        * 1000000.0
    ).cast("long")
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(st))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score_micros"), F.count("*").alias("n_terms_hit"))
    )


@register("ext_bm25_topk", oracle=_BM25_ORACLE)
def ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query over the corpus — the
    lexical half of a RAG / retrieval stack beside the embedding
    kernels (`ext_sim_topk`): Robertson idf
    ln((N-df+0.5)/(df+0.5)+1) with k1=1.2, b=0.75 length
    normalization. Per-(doc, term) scores are rounded ONCE into
    integer micros and BIGINT-summed per doc (the repo's fixed-point
    device: the sum is order-insensitive, so partial aggregation
    cannot smear ulps), then global top-k.

    Scale shape: the term filter hits the scan (only query-term
    postings survive — at 100 TB this is the inverted-index probe,
    everything else never leaves the reader); df is a |Q|-row
    broadcast, corpus stats a 1-row broadcast; top-k is
    orderBy+limit => TakeOrderedAndProject (per-partition heaps, K
    rows to the driver), and the rank window runs over K rows by
    construction — same bounded-rank device as `ext_tokenize_ids`."""
    ds = bm25_scored(spark, sf_dir)
    from pyspark.sql import Window as _W

    topk = ds.orderBy(F.desc("score_micros"), "doc_id").limit(BM25_TOP_K)
    rank = F.row_number().over(
        _W.orderBy(F.desc("score_micros"), "doc_id")
    )
    return topk.select(
        "doc_id", "score_micros", "n_terms_hit", rank.cast("long").alias("rank")
    )


# ------------------------------------- hybrid reciprocal-rank fusion

RRF_K = 60  # the canonical RRF damping constant (Cormack et al.)
FUSE_POOL_K = 20  # per-retriever candidate pool fed into the fusion
FUSE_QUERY_VEC = 0  # the probe: vec_id 0's embedding (doc_id-aligned)


def _rrf_sql(rank_col: str) -> str:
    """One RRF contribution round(1e6/(K+rank)) as a SHARED all-double
    fragment (floor(y+0.5), the repo's one rounding rule). With
    RRF_K=60 and pool ranks <= FUSE_POOL_K the divisor stays below
    128, the smallest denominator in range where 1e6/d lands exactly
    on a half (2e6 = 2^7*5^6), so the +0.5 floor never sits on a
    knife edge and the contribution is integer-exact on both
    engines."""
    return (
        f"CAST(floor(CAST(1000000 AS DOUBLE) "
        f"/ CAST({RRF_K} + {rank_col} AS DOUBLE) + 0.5) AS BIGINT)"
    )


def _fusion_arms_cte() -> str:
    """Shared WITH-clause body producing `f(doc_id, lex_rank,
    vec_rank)` — the full-outer join of the lexical and vector
    top-{FUSE_POOL_K} rank arms. Consumed by the RRF fusion oracle
    AND the RBO agreement oracle so the two ops provably rank over
    the same arms."""
    from .similarity import INT8_Z_CTES

    return f"""{INT8_Z_CTES},
{BM25_DS_CTES},
lexr AS (SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rank FROM ds)
  WHERE rank <= {FUSE_POOL_K}),
qv AS (SELECT scale AS qs, codes AS qc FROM z
       WHERE vec_id = {FUSE_QUERY_VEC}),
vsc AS (SELECT z.vec_id,
          CAST(list_sum(list_transform(generate_series(1, len(qc)),
               i -> qc[i] * z.codes[i])) AS BIGINT) AS int_dot,
          qs * z.scale AS ss
        FROM z, qv WHERE z.vec_id <> {FUSE_QUERY_VEC}),
vecr AS (SELECT vec_id, rank FROM (
    SELECT vec_id, CAST(row_number() OVER (
        ORDER BY CAST(int_dot AS DOUBLE) * ss DESC, vec_id) AS BIGINT)
      AS rank FROM vsc)
  WHERE rank <= {FUSE_POOL_K}),
f AS (SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
             l.rank AS lex_rank, v.rank AS vec_rank
      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.vec_id)"""


def _fusion_arms_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED fusion rank-arm table (r13 optimization pass):
    `ext_hybrid_rank_fusion` and `ext_rank_rbo` each re-ran BOTH
    retriever arms (the BM25 corpus pass + the int8 scoring pass) per
    invocation; the pinned frame is ≤ 2·FUSE_POOL_K rows."""
    return session_pin(
        spark, sf_dir, "fusion_arms", lambda: _fusion_rank_arms(spark, sf_dir)
    )


def _fusion_rank_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_fusion_arms_cte`: the full-outer join of the
    lexical and vector top-{FUSE_POOL_K} rank arms, f(doc_id,
    lex_rank, vec_rank). Consumed by `ext_hybrid_rank_fusion` (which
    adds the RRF score + fused rank) and `ext_rank_rbo` (which stops
    here — the agreement measure never needs the fused ranking),
    both via the `fusion_arms` session pin."""
    from pyspark.sql import Window as W

    from .similarity import _INT8_SCORED_SQL, _with_int8_codes

    lex_top = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_micros"), "doc_id")
        .limit(FUSE_POOL_K)
    )
    lexr = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score_micros"), "doc_id"))
        .cast("long")
        .alias("lex_rank"),
    )
    z = _with_int8_codes(load(spark, sf_dir, "embeddings"))
    qv = z.filter(F.col("vec_id") == FUSE_QUERY_VEC).select(
        F.col("scale").alias("qs"), F.col("codes").alias("qc")
    )
    vsc = (
        z.filter(F.col("vec_id") != FUSE_QUERY_VEC)
        .select("vec_id", F.col("scale").alias("cs"), F.col("codes").alias("cc"))
        .crossJoin(F.broadcast(qv))
        .withColumn("int_dot", F.expr(_INT8_SCORED_SQL))
        .withColumn(
            "score",
            F.col("int_dot").cast("double") * (F.col("qs") * F.col("cs")),
        )
    )
    vec_top = vsc.orderBy(F.desc("score"), "vec_id").limit(FUSE_POOL_K)
    vecr = vec_top.select(
        F.col("vec_id").alias("nid"),
        F.row_number()
        .over(W.orderBy(F.desc("score"), "vec_id"))
        .cast("long")
        .alias("vec_rank"),
    )
    return lexr.join(
        vecr, lexr["doc_id"] == vecr["nid"], "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("nid")).alias("doc_id"),
        "lex_rank",
        "vec_rank",
    )


def _hybrid_fusion_oracle() -> str:
    return f"""
WITH {_fusion_arms_cte()},
r AS (SELECT doc_id, lex_rank, vec_rank,
             coalesce({_rrf_sql("lex_rank")}, 0)
             + coalesce({_rrf_sql("vec_rank")}, 0) AS rrf_micros
      FROM f)
SELECT doc_id, lex_rank, vec_rank, rrf_micros,
       CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id)
            AS BIGINT) AS fused_rank
FROM r
"""


@register("ext_hybrid_rank_fusion", oracle=_hybrid_fusion_oracle())
def ext_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the lexical
    top-{FUSE_POOL_K} (the fixed-point BM25 scorer, `bm25_scored`)
    and the vector top-{FUSE_POOL_K} (the int8 compressed kernel of
    `ext_sim_topk_int8`, probe = vec_id {FUSE_QUERY_VEC}'s
    embedding, doc_id-aligned) are fused by
    score = Σ 1/(60+rank) over the lists each doc appears in —
    THE standard hybrid-search combiner (RRF needs no score
    calibration between retrievers, which is exactly why it wins in
    production: BM25 micros and cosine floats never share a scale).
    Docs retrieved by BOTH legs rise; the output is the fused
    consensus ranking with both per-leg ranks preserved (NULL where
    a leg missed the doc).

    Exactness: each leg's ranking reuses its parent operator's
    proven contract (BM25 integer micros; int_dot × qs·cs double of
    bit-identical operands); the RRF contribution is the shared
    `_rrf_sql` fragment — floor(1e6/(60+r)+0.5) is integer-exact
    for all pool ranks (no half-way case below divisor 128) — and
    the fusion sum/rank are BIGINT ops.

    Scale shape: both legs end in orderBy+limit =>
    TakeOrderedAndProject (per-partition heaps, K rows to the
    driver); every window in the operator runs over <= K or <= 2K
    rows by construction (the `ext_tokenize_ids` bounded-rank
    device); the full-outer fusion join touches <= 2K rows. At
    100 TB the corpus work is the two retrievers' scans — the
    fusion itself is metadata-sized, which is why RRF is THE
    cheap hybrid combiner."""
    from pyspark.sql import Window as W

    f = _fusion_arms_pinned(spark, sf_dir)
    r = f.select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(F.expr(_rrf_sql("lex_rank")), F.lit(0))
            + F.coalesce(F.expr(_rrf_sql("vec_rank")), F.lit(0))
        ).alias("rrf_micros"),
    )
    return r.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("rrf_micros"), "doc_id"))
        .cast("long")
        .alias("fused_rank"),
    )


# ------------------------------------- sparse TF-IDF cosine pairs

RARE_DF_FACTOR = 10  # candidate terms must satisfy df * 10 <= N

_TFIDF_PAIRS_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
n AS (SELECT count(*) AS n_docs FROM d),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (SELECT doc_id, term,
        CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000.0) AS BIGINT) AS wm
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
nrm AS (SELECT doc_id, CAST(sum(wm * wm) AS BIGINT) AS nn FROM w GROUP BY doc_id),
rare AS (SELECT term FROM dfq CROSS JOIN n WHERE df * {RARE_DF_FACTOR} <= n_docs),
post AS (SELECT DISTINCT doc_id, term FROM tf JOIN rare USING (term)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM post a JOIN post b ON a.term = b.term AND a.doc_id < b.doc_id),
dots AS (SELECT doc_a, doc_b, CAST(sum(wa.wm * wb.wm) AS BIGINT) AS dot,
           count(*) AS shared_terms
         FROM cand
         JOIN w wa ON wa.doc_id = doc_a
         JOIN w wb ON wb.doc_id = doc_b AND wb.term = wa.term
         GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, shared_terms,
       round(dot / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS cos
FROM dots JOIN nrm na ON na.doc_id = doc_a JOIN nrm nb ON nb.doc_id = doc_b
"""


@register("ext_tfidf_cosine_pairs", oracle=_TFIDF_PAIRS_ORACLE)
def ext_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TERM-space document similarity join (the lexical twin of
    `ext_dedup_embcos`): candidate pairs are generated ONLY through
    rare terms (df*10 <= N — the inverted-index blocking that keeps
    pair generation sub-quadratic; stop-term postings never join),
    then each candidate pair is scored with FULL-vocabulary TF-IDF
    cosine. Rare-feature blocking + exact re-scoring is the classic
    sparse similarity-join recipe (prefix filtering's simple cousin)
    and catches template/boilerplate families that embedding models
    smear together.

    Exactness device: per-(doc, term) weight tf*ln(N/df) is rounded
    ONCE into BIGINT millis; dots and norms are then integer sums
    (order-insensitive under partial aggregation), and only the final
    cosine divides doubles through ONE shared round(...,6) tree.
    Bound: |wm| <= ~3e5 => per-term product <= 9e10, int64-safe to
    ~1e7 shared terms per pair — vocabulary-sized, never binding.

    Scale shape: tf/df/norms are keyed aggs with map-side combine;
    rare postings self-join is bounded by rare-term bucket sizes
    (same argument as the banded MinHash miner); the re-score join
    moves candidate-pair weight rows only — survivors-of-blocking,
    not the corpus. The (doc, term, tf) table is pinned with
    `compute_once` — it feeds df counts, weights (x3: norms + both
    re-score sides), and postings, which otherwise each replay the
    scan-split-explode-agg chain (r6 scan audit: 18 document scans
    before, 2 after); the rare-postings relation is pinned too so
    the self-join's two sides share one distinct."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    tf = compute_once(
        d.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # the 1-row scalar is referenced once per weight branch — pin it
    # or its documents scan replays per reference (r6 scan audit)
    n = compute_once(d.agg(F.count("*").alias("n_docs")))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 1000.0
            )
            .cast("long")
            .alias("wm"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("wm") * F.col("wm")).alias("nn"))
    rare = (
        dfq.crossJoin(F.broadcast(n))
        .filter(F.col("df") * RARE_DF_FACTOR <= F.col("n_docs"))
        .select("term")
    )
    post = compute_once(
        tf.join(F.broadcast(rare), "term").select("doc_id", "term").distinct()
    )
    a, b = post.alias("a"), post.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = w.select(
        F.col("doc_id").alias("doc_a"), F.col("term"), F.col("wm").alias("wma")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), F.col("term"), F.col("wm").alias("wmb")
    )
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wma") * F.col("wmb")).alias("dot"),
            F.count("*").alias("shared_terms"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_terms",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                6,
            ).alias("cos"),
        )
    )


# -------------------------------------------- length-bucket batching

BATCH_SIZE = 8
LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)

_LB_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN n_tok <= {e} THEN {e}" for e in LEN_BUCKETS)
    + f" ELSE {LEN_BUCKETS[-1]} END"
)

_LENBUCKET_ORACLE = f"""
WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
b AS (SELECT doc_id, n_tok, {_LB_CASE_SQL} AS bucket FROM d)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
       CAST(count(*) * bucket - sum(n_tok) AS BIGINT) AS pad_waste,
       round((count(*) * bucket - sum(n_tok)) * 1.0 / (count(*) * bucket), 6)
         AS waste_rate,
       CAST((count(*) + {BATCH_SIZE - 1}) // {BATCH_SIZE} AS BIGINT) AS n_batches
FROM b GROUP BY bucket
"""


@register("ext_length_bucket_batching", oracle=_LENBUCKET_ORACLE)
def ext_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning — the padded-batch counterpart
    of `ext_pack_sequences` (concat packing): docs are binned into
    power-of-two length buckets, and the plan reports per bucket the
    padded token cost, the PADDING WASTE (tokens burned on pad ids —
    the metric dynamic batching exists to minimize), and the batch
    count at a fixed batch size. A training-data team reads
    waste_rate to choose between padded batching and packing per
    corpus slice.

    Exactness: bucket assignment is a CASE ladder over fixed edges
    (identical text both engines — deliberately NOT floor(ln/ln)
    arithmetic, which needs power-of-10/2 renormalization per the
    Benford lesson); everything else is integer counts/sums with ONE
    shared rounded division.

    Scale shape: one scan-local projection + ONE |buckets|-key hash
    agg with map-side combine — constant-size output at any corpus
    size."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    bucket = F.expr(_LB_CASE_SQL)
    b = d.select("doc_id", "n_tok", bucket.alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        (F.count("*") * F.col("bucket")).alias("padded_tokens"),
        (F.count("*") * F.col("bucket") - F.sum("n_tok")).alias("pad_waste"),
        F.round(
            (F.count("*") * F.col("bucket") - F.sum("n_tok"))
            * 1.0
            / (F.count("*") * F.col("bucket")),
            6,
        ).alias("waste_rate"),
        ((F.count("*") + (BATCH_SIZE - 1)) / BATCH_SIZE).cast("long").alias(
            "n_batches"
        ),
    )


# --------------------------------------------- epoch shuffle plan

SHUFFLE_SHARD_WIDTH = 100  # doc_id range width of one shuffle shard

_EPOCH_HASH_SQL = (
    "CAST(('0x' || substr(md5(concat_ws(':', 'ep', CAST({e} AS VARCHAR), "
    "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
)

_EPOCH_SHUFFLE_ORACLE = f"""
WITH d AS (SELECT doc_id, doc_id // {SHUFFLE_SHARD_WIDTH} AS shard
           FROM documents),
p AS (SELECT doc_id, shard,
        row_number() OVER (PARTITION BY shard
          ORDER BY {_EPOCH_HASH_SQL.format(e=0)}, doc_id) - 1 AS pos_e0,
        row_number() OVER (PARTITION BY shard
          ORDER BY {_EPOCH_HASH_SQL.format(e=1)}, doc_id) - 1 AS pos_e1
      FROM d)
SELECT doc_id, shard, pos_e0, pos_e1, pos_e0 != pos_e1 AS moved FROM p
"""


@register("ext_epoch_shuffle_plan", oracle=_EPOCH_SHUFFLE_ORACLE)
def ext_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BETWEEN-EPOCH shuffle plan: each training epoch
    permutes documents within their shard by a salted hash of
    (epoch, doc_id) — reproducible on any re-run/retry (no RNG state,
    the property all repo sampling ops share) yet decorrelated across
    epochs (`moved` shows the permutation really changes). This is
    how large-corpus loaders actually shuffle: GLOBALLY shuffling
    100 TB per epoch is a full-corpus sort, so production shuffles
    shard-internally (+ shard-order shuffle, a metadata-sized
    problem) — accepting the standard locality trade-off, which this
    plan makes explicit and auditable.

    Scale shape: the ONLY windows are partitioned by shard —
    bounded at SHUFFLE_SHARD_WIDTH rows by construction (doc_ids are
    unique), so the per-shard sort is constant-size however large
    the corpus; one shuffle on the shard key, embarrassingly
    parallel after."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"doc_id div {SHUFFLE_SHARD_WIDTH}").alias("shard"),
    )
    from pyspark.sql import Window as _W

    def pos(e: int):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("ep"),
                        F.lit(str(e)),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        w = _W.partitionBy("shard").orderBy(h.asc(), F.col("doc_id").asc())
        return (F.row_number().over(w) - 1).cast("long")

    return d.select(
        "doc_id",
        "shard",
        pos(0).alias("pos_e0"),
        pos(1).alias("pos_e1"),
    ).withColumn("moved", F.col("pos_e0") != F.col("pos_e1"))


# -------------------------------------- Misra-Gries heavy hitters

MG_K = 100  # heavy-hitter threshold: freq > N / MG_K (1%)

_MG_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
tot AS (SELECT count(*) AS n FROM tok),
c AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
SELECT t AS term, c AS exact_count, round(c * 1.0 / n, 6) AS share
FROM c CROSS JOIN tot WHERE c * {MG_K} > n
"""


def _mg_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Partition-local Misra-Gries summary (Agarwal et al. 2012
    mergeable-summaries form): fold each Arrow batch's value counts
    into at most MG_K counters; on overflow subtract the (K+1)-th
    largest counter from all and keep positives. Any item with
    in-partition frequency > partition_size/MG_K survives — the
    candidate-superset guarantee the exact recount below relies on."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for t, c in pdf["t"].value_counts().items():
            counters[t] = counters.get(t, 0) + int(c)
        if len(counters) > MG_K:
            cut = sorted(counters.values(), reverse=True)[MG_K]
            counters = {t: c - cut for t, c in counters.items() if c > cut}
    yield pd.DataFrame({"t": list(counters.keys()) or []}, dtype="object")


@register("agg_heavy_hitters_mg", oracle=_MG_ORACLE)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with > 1/MG_K of all occurrences)
    via the two-pass sketch-then-verify shape: pass 1 runs a
    partition-local Misra-Gries summary in Arrow batches (bounded
    MG_K-entry state per task — the one-pass bounded-memory pruner;
    by pigeonhole, any GLOBAL heavy hitter is heavy in some
    partition, so the union of partition candidates is a provable
    superset); pass 2 recounts ONLY the candidates exactly and
    applies the threshold. Same approximate-miner + exact-verifier
    architecture as MinHash→Jaccard, here for frequency. The output
    is EXACT (hash-checked against the full groupBy oracle) — the
    sketch only bounds the candidate set, never the answer.

    Scale shape: pass 1 is mapInPandas with O(MG_K) state and
    candidate output ≤ MG_K rows per partition (vs a full-vocabulary
    shuffle: at 100 TB the vocabulary is billions of types, the
    candidate union is thousands); pass 2 broadcasts candidates into
    the token scan and aggregates |candidates| keys with map-side
    combine. The 1-row total is a crossJoin broadcast."""
    d = load(spark, sf_dir, "documents").select("text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    # the token stream feeds the MG pass, the total, and the exact
    # recount — pin it so the three passes read one materialization
    # instead of re-scanning and re-splitting the corpus thrice (r6
    # scan audit)
    tok = compute_once(d.select(F.explode(F.split("text", " ")).alias("t")))
    cand = (
        tok.mapInPandas(_mg_partials, schema="t string")
        .distinct()
    )
    tot = tok.agg(F.count("*").alias("n"))
    exact = (
        tok.join(F.broadcast(cand), "t")
        .groupBy("t")
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("exact_count") * MG_K > F.col("n"))
        .select(
            F.col("t").alias("term"),
            "exact_count",
            F.round(F.col("exact_count") * 1.0 / F.col("n"), 6).alias("share"),
        )
    )


# ------------------------------------------------- feature hashing

FH_DIM = 64  # hashed feature-vector width

_FH_HASH = (
    "CAST(('0x' || substr(md5(concat_ws(':', 'fh', t)), 1, 15)) AS BIGINT) "
    f"% {FH_DIM}"
)

_FH_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE text IS NOT NULL),
h AS (SELECT doc_id, len(tk) AS n_tokens,
        list_transform(tk, t -> {_FH_HASH}) AS th FROM d),
v AS (SELECT doc_id, n_tokens,
        list_transform(range(0, {FH_DIM}),
          j -> CAST(len(list_filter(th, x -> x = j)) AS BIGINT)) AS features
      FROM h)
SELECT doc_id, array_to_string(features, ' ') AS features,
       CAST(len(list_filter(features, x -> x > 0)) AS BIGINT) AS nnz,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM v
"""

_FH_SPARK_HASH = (
    "CAST(conv(substring(md5(concat_ws(':', 'fh', t)), 1, 15), 16, 10) "
    f"AS BIGINT) % {FH_DIM}"
)


@register("ext_feature_hashing", oracle=_FH_ORACLE)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text vectorizer (Weinberger et al. 2009): each
    token indexes a fixed FH_DIM-wide bucket via a salted hash and
    the document becomes its bucket-count vector — the
    vocabulary-FREE featurization that needs no global dictionary
    pass, no vocab broadcast, and no OOV path (contrast
    `ext_tokenize_ids`, which builds and broadcasts a top-K vocab).
    That no-global-state property is the whole point at 100 TB: the
    vectorizer is a pure per-row function, so featurization
    parallelizes perfectly and new corpus shards never invalidate a
    dictionary.

    Exactness: bucket = salted-md5 % FH_DIM (identical integer
    arithmetic both engines); counts via HOF filter/size — all
    int64; the feature vector is hash-compared against the oracle as
    a space-joined STRING (position encodes bucket index) because
    the external harness's pandas canonicalizer cannot sort/hash a
    top-level array column — same contract as `ext_tokenize_ids`,
    pinned registry-wide by tests/test_registry.py.

    Scale shape: each token is hashed ONCE in the scan (a naive
    nested-HOF form — count buckets by filtering the hashed array
    per bucket index — re-evaluates the md5 transform FH_DIM times
    per doc under Catalyst's project-collapsing; measured 19 s vs
    1 s at sf0.1), then one doc-keyed count shuffle of (doc, bucket)
    int pairs with map-side combine rebuilds the dense vector via a
    bucket->count map. No Python, no vocabulary state.

    NULL pin (r8 sweep): an untokenizable (NULL-text) doc is excluded
    on both engines — the explode/inner-join chain drops it on Spark
    while string_split(NULL) rode through DuckDB as a NULL row (the
    ext_mm_resize_stub exclusion precedent)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("tk"))
    )
    base = d.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
    counts = (
        d.select("doc_id", F.explode("tk").alias("t"))
        .select("doc_id", F.expr(_FH_SPARK_HASH).alias("j"))
        .groupBy("doc_id", "j")
        .agg(F.count("*").alias("c"))
    )
    m = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("j", "c"))).alias("m")
    )
    v = base.join(m, "doc_id").select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {FH_DIM - 1}), "
            "j -> CAST(coalesce(m[j], 0) AS BIGINT))"
        ).alias("features"),
        "n_tokens",
    )
    return v.select(
        "doc_id",
        F.array_join(
            F.transform("features", lambda x: x.cast("string")), " "
        ).alias("features"),
        F.expr("CAST(size(filter(features, x -> x > 0)) AS BIGINT)").alias("nnz"),
        "n_tokens",
    )


# --------------------------------------------- vocab coverage curve

COVERAGE_KS = (5, 10, 20)

_COV_K_SQL = " UNION ALL ".join(
    f"SELECT {k} AS k, CAST(sum(c) AS BIGINT) AS covered_tokens FROM "
    f"(SELECT c FROM c ORDER BY c DESC, t LIMIT {k})"
    for k in COVERAGE_KS
)

_COVERAGE_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
c AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types FROM c),
ks AS ({_COV_K_SQL})
SELECT k, n_types, covered_tokens,
       round(covered_tokens * 1.0 / n, 6) AS coverage
FROM ks CROSS JOIN tot
"""


@register("ext_vocab_coverage_curve", oracle=_COVERAGE_ORACLE)
def ext_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all token
    OCCURRENCES covered by the top-K most frequent types, at fixed K
    cutoffs — the statistic that sizes a tokenizer vocabulary (where
    the curve flattens, extra vocab buys nothing) and the companion
    to `ext_vocab_census`'s corpus scalars and
    `ext_tokenizer_fertility`'s downstream audit.

    Scale design note: the naive form — rank ALL types then prefix-
    sum — is a full vocabulary sort through one window (the
    `agg_user_gini` anti-pattern at billion-type scale). Evaluating
    the curve only AT the K cutoffs instead turns each point into
    TakeOrderedAndProject(K) + a K-row sum: per-partition heaps,
    K rows to the driver, no global sort, no unpartitioned window.

    Exactness: counts and covered sums are BIGINTs (ties at the
    cutoff broken by term text identically on both engines); the
    coverage share is one shared rounded division."""
    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
    )
    # the vocab census feeds totals AND every K-cutoff heap — pin it
    # or each curve point replays the scan-explode-agg chain (r6
    # scan audit: 4 document scans before, 1 after)
    c = compute_once(tok.groupBy("t").agg(F.count("*").alias("c")))
    tot = c.agg(
        F.sum("c").alias("n"), F.count("*").alias("n_types")
    )
    parts = []
    for k in COVERAGE_KS:
        topk = c.orderBy(F.desc("c"), "t").limit(k)
        parts.append(
            topk.agg(
                F.lit(k).cast("long").alias("k"),
                F.sum("c").alias("covered_tokens"),
            )
        )
    ks = parts[0]
    for p in parts[1:]:
        ks = ks.unionAll(p)
    return ks.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_types",
        "covered_tokens",
        F.round(F.col("covered_tokens") * 1.0 / F.col("n"), 6).alias("coverage"),
    )


# --------------------------------------- character-entropy profile

_ENTROPY_ORACLE = """
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents),
cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
       FROM ch GROUP BY 1, 2),
h AS (SELECT doc_id,
             round(ln(CAST(sum(c) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE), 6) AS entropy,
             CAST(sum(c) AS BIGINT) AS n_chars_x
      FROM cc GROUP BY 1)
SELECT CAST(floor(entropy * 10) AS BIGINT) AS bucket_x10,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars_x) AS BIGINT) AS total_chars,
       min(entropy) AS min_entropy,
       max(entropy) AS max_entropy
FROM h GROUP BY 1
"""


@register("ext_char_entropy", oracle=_ENTROPY_ORACLE)
def ext_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon-entropy histogram over the corpus —
    the gibberish/boilerplate screen quality classifiers lean on:
    natural prose sits in a narrow entropy band (~3 nats for
    English), while base64 blobs, minified code, and repeated-char
    spam land far outside it. Complements `ext_text_repetition`
    (which catches structured repeats, not skewed char
    distributions) and feeds the `ext_quality_gate` family.

    Bit-stable float contract: per-doc H = ln(n) - Σ c·ln(c)/n is
    ONE identical expression tree on both engines over exact BIGINT
    char counts, rounded to 6dp BEFORE the bucket floor (the
    round-before-compare rule, `agg_winsorize_bounds` lesson); the
    per-doc Σ over c·ln(c) is grouped by (doc, char) so both engines
    sum the same finite multiset — and min/max over round6 values
    are order-free.

    Known unit divergence, documented not hidden: Spark's split('')
    yields UTF-16 code units while DuckDB's string_split('') yields
    code points, so astral-plane characters (emoji, rare CJK) would
    count as 2 vs 1. The driver fixtures are ASCII; a production
    corpus should pre-fold with `fn_unicode_nfc` and treat the
    entropy as a code-unit statistic (the screen's discriminative
    power is unchanged — both units are consistent within an
    engine).

    Scale shape: explode chars -> (doc, char)-keyed count with
    map-side partials (the combine collapses the stream to per-doc
    ALPHABET cardinality, not text length) -> doc-keyed agg ->
    |buckets|-keyed final agg. No windows, no driver loops; every
    shuffle key is bounded (doc x alphabet, then docs, then ~40
    entropy buckets)."""
    d = load(spark, sf_dir, "documents")
    cc = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    h = cc.groupBy("doc_id").agg(
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy"),
        F.sum("c").alias("n_chars_x"),
    )
    return h.groupBy(
        F.floor(F.col("entropy") * 10).cast("long").alias("bucket_x10")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars_x").alias("total_chars"),
        F.min("entropy").alias("min_entropy"),
        F.max("entropy").alias("max_entropy"),
    )


# ------------------------------------------- hapax exposure audit

HAPAX_TOP_K = 50


_HAPAX_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok2 GROUP BY 1),
dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
       FROM tok2 GROUP BY 1),
hx AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hapax
       FROM tok2 t JOIN tc ON tc.term = t.term AND tc.c = 1
       GROUP BY 1)
SELECT dn.doc_id, dn.n_tokens,
       coalesce(hx.n_hapax, 0) AS n_hapax,
       round(coalesce(hx.n_hapax, 0) * 1.0 / dn.n_tokens, 6)
         AS hapax_share
FROM dn LEFT JOIN hx USING (doc_id)
ORDER BY n_hapax DESC, doc_id LIMIT {HAPAX_TOP_K}
"""


@register("ext_hapax_audit", oracle=_HAPAX_ORACLE)
def ext_hapax_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K documents by hapax-legomenon exposure: tokens whose
    CORPUS frequency is exactly 1, counted per document. Documents
    dense in corpus-unique tokens are the memorization-risk tail —
    serial numbers, email addresses, key material, rare names — the
    doc-level drill-down behind `ext_vocab_census`'s per-language
    hapax aggregate, and a triage queue for `ext_pii_redact`.

    Exactness: hapax membership and per-doc counts are exact BIGINTs
    (a count-1 term contributes exactly one posting row, so the
    join-back output is bounded by vocabulary size, not corpus
    size); hapax_share is one shared rounded division; top-K ties
    break on doc_id.

    Scale shape: one token census (keyed count, map-side partials),
    the c=1 slice joined back to postings term-keyed — output <=
    |vocab| rows — then a doc-keyed count and
    TakeOrderedAndProject(K). No global sort; the census and the
    posting join are the same shapes the dedup miners already
    carry."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # ONE scan: the pinned (doc, term, count) postings feed the
    # census, the per-doc totals, AND the hapax join-back (a hapax
    # posting has k = 1, so sum(k) = count of instances exactly);
    # three scan-explode chains before (r6 scan audit)
    dt = compute_once(
        tok.groupBy("doc_id", "term").agg(F.count("*").alias("k"))
    )
    tc = dt.groupBy("term").agg(F.sum("k").alias("c"))
    hapax = tc.filter(F.col("c") == 1).select("term")
    dn = dt.groupBy("doc_id").agg(F.sum("k").alias("n_tokens"))
    hx = (
        dt.join(hapax, "term")
        .groupBy("doc_id")
        .agg(F.sum("k").alias("n_hapax"))
    )
    return (
        dn.join(hx, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_hapax"), F.lit(0)).alias("n_hapax"),
            F.round(
                F.coalesce(F.col("n_hapax"), F.lit(0)) * 1.0 / F.col("n_tokens"), 6
            ).alias("hapax_share"),
        )
        .orderBy(F.desc("n_hapax"), "doc_id")
        .limit(HAPAX_TOP_K)
    )


# ------------------------------------ Zipf fit (freq-of-frequencies)

_ZIPF_LN_SCALE = 1000  # milli fixed-point ln values: exact int sums


_ZIPF_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c
       FROM tok WHERE term <> '' GROUP BY 1),
ff AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tc GROUP BY 1),
pts AS (SELECT CAST(round(ln(CAST(c AS DOUBLE)) * {_ZIPF_LN_SCALE}) AS BIGINT) AS x,
               CAST(round(ln(CAST(f AS DOUBLE)) * {_ZIPF_LN_SCALE}) AS BIGINT) AS y
        FROM ff),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pts)
SELECT n AS n_points,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0), 6)
         AS slope,
       round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)) * sx)
             / (CAST(n AS DOUBLE) * {_ZIPF_LN_SCALE}), 6) AS intercept,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / nullif((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0), 6)
         AS r2
FROM s
"""


@register("ext_zipf_fit", oracle=_ZIPF_ORACLE)
def ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Zipf) fit of the token frequency distribution via
    the FREQUENCY-OF-FREQUENCIES curve: least-squares slope of
    ln(#types with count c) on ln(c). For a Zipf corpus with
    exponent alpha the ff-curve slope is -(1 + 1/alpha), so the fit
    audits corpus naturalness per release: machine-generated or
    template-heavy corpora bend the line (r2 drops), and a drifting
    slope between snapshots flags a distribution shift before any
    downstream eval would.

    The deliberate design choice: fitting rank-frequency needs a
    GLOBAL rank of the vocabulary (a billion-type sort through one
    window — the `agg_user_gini` anti-pattern); the ff-curve needs
    only count->count-of-counts, two keyed aggs, and regression over
    the ~hundreds of distinct count values. Same statistic family,
    shuffle-safe plan.

    Bit-stable float contract: ln(c), ln(f) are milli-rounded ONCE
    into BIGINT fixed point (the `ext_dsir_weights` device), so
    every regression sum is an exact integer in ANY partition order;
    int64 stays safe (|x| <= ~21k milli at c <= 10^9, so sxy terms
    <= 4.4e8 and even 10^6 points keep sums < 2^62). The closed-form
    slope/intercept/r2 then combine those exact integers in double
    arithmetic — deterministic — and round to 6dp."""
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    ff = tc.groupBy("c").agg(F.count("*").alias("f"))
    pts = ff.select(
        F.round(F.log(F.col("c").cast("double")) * _ZIPF_LN_SCALE)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * _ZIPF_LN_SCALE)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    # nullif-guarded denominators BOTH engines: a degenerate ff-curve
    # (all x equal, or all y equal — e.g. every type occurring a
    # distinct number of times makes every f = 1) zeroes a variance
    # term; under ANSI mode the raw division is a hard DIVIDE_BY_ZERO
    # crash, not an inf (found by the zipf property test). NULL is
    # the honest answer: the fit is undefined there.
    den = F.nullif(
        n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"),
        F.lit(0.0),
    )
    deny = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return s.select(
        F.col("n").alias("n_points"),
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - (num / den) * F.col("sx"))
            / (n * F.lit(_ZIPF_LN_SCALE)),
            6,
        ).alias("intercept"),
        F.round(num * num / F.nullif(den * deny, F.lit(0.0)), 6).alias("r2"),
    )


# ---------------------------------------- boilerplate prefix mining

PREFIX_TOKENS = 8
PREFIX_TOP_K = 25


_PREFIX_ORACLE = f"""
WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
p AS (SELECT array_to_string(w[1:{PREFIX_TOKENS}], ' ') AS prefix FROM t),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM p),
g AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1)
SELECT g.prefix, g.n_docs,
       round(g.n_docs * 1.0 / n.n_docs_total, 6) AS share
FROM g, n
ORDER BY g.n_docs DESC, g.prefix LIMIT {PREFIX_TOP_K}
"""


@register("ext_prefix_templates", oracle=_PREFIX_ORACLE)
def ext_prefix_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template mining over document PREFIXES: the top-K most common
    first-{PREFIX_TOKENS}-token openings with their corpus share —
    boilerplate headers ("subscribe to our newsletter", cookie
    banners, license preambles) cluster on identical openings long
    before full-document dedup fires. The cheap screen that decides
    where `ext_dup_span_profile`'s expensive span analysis should
    look, and a direct input to header-stripping rules.

    Exactness: prefixes are exact strings (identical token slicing
    on both engines, shorter docs keep their full token list); the
    share is one shared rounded division; top-K ties break on the
    prefix string.

    Scale shape: scan-local slice + join, ONE prefix-keyed count agg
    with map-side partials (distinct prefixes are corpus-bounded but
    the hot templates combine map-side), broadcast total, and
    TakeOrderedAndProject(K). No windows, no global sort."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        F.array_join(
            F.slice(F.split("text", " "), 1, PREFIX_TOKENS), " "
        ).alias("prefix")
    )
    # ONE scan: every doc yields exactly one prefix row, so the doc
    # total derives from the pinned prefix census (r6 scan audit)
    g = compute_once(p.groupBy("prefix").agg(F.count("*").alias("n_docs")))
    n = g.agg(F.sum("n_docs").alias("n_docs_total"))
    return (
        g.crossJoin(F.broadcast(n))
        .select(
            "prefix",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("n_docs_total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_docs"), "prefix")
        .limit(PREFIX_TOP_K)
    )


# ------------------------------- content-defined chunking (CDC)

CDC_GRAM = 4  # token k-gram the rolling anchor hash covers
CDC_DIVISOR = 8  # anchor where hash % DIVISOR == 0 => ~8-token chunks


_CDC_ORACLE = f"""
WITH t AS (SELECT row_number() OVER () AS rid, string_split(text, ' ') AS w
           FROM documents),
pos AS (SELECT rid, w,
               unnest(generate_series(2, len(w) - {CDC_GRAM} + 1)) AS p
        FROM t WHERE len(w) >= {CDC_GRAM} + 1),
anch AS (SELECT rid, w, CAST(p AS INT) AS start FROM pos
         WHERE {{h}} % {CDC_DIVISOR} = 0),
starts AS (SELECT rid, w, 1 AS start FROM t
           UNION ALL SELECT rid, w, start FROM anch),
bounds AS (SELECT rid, w, start,
                  coalesce(lead(start) OVER (PARTITION BY rid
                                             ORDER BY start) - 1,
                           len(w)) AS fin
           FROM starts),
ch AS (SELECT rid,
              md5(array_to_string(w[start:fin], ' ')) AS chunk_fp,
              fin - start + 1 AS n_tok
       FROM bounds),
docs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t),
cha AS (SELECT CAST(count(*) AS BIGINT) AS total_chunks,
               CAST(count(DISTINCT chunk_fp) AS BIGINT) AS distinct_chunks,
               sum(n_tok) AS sum_tok
        FROM ch WHERE chunk_fp IS NOT NULL)
SELECT docs.n_docs,
       total_chunks,
       distinct_chunks,
       total_chunks - distinct_chunks AS dup_chunks,
       round(distinct_chunks * 1.0
             / nullif(CAST(total_chunks AS DOUBLE), 0.0), 6) AS dedup_ratio,
       CAST(sum_tok * 1000000 // nullif(total_chunks, 0) AS BIGINT)
         AS mean_chunk_tokens_micro
FROM cha, docs
""".format(
    # WHERE chunk_fp IS NOT NULL: a NULL-text doc yields NO chunks on
    # both engines (Spark's explode_outer+notNull already drops them;
    # the SQL side was counting a NULL-fp row per NULL doc — r8 NULL
    # sweep). n_docs still counts every doc.
    # cha is aggregated in a SUBQUERY (not GROUP BY over the filtered
    # cross join) so a corpus where NO chunk survives — every doc
    # NULL-text — still yields the one report row (zero counts, NULL
    # ratio/mean) that the Spark side's crossJoin of two aggregates
    # always emits (r8 ADVICE boundary fix).
    # PARTITION BY rid (a per-ROW synthetic key), not doc_id: the
    # Spark side chunks each ROW's token array independently, so under
    # PK-violating duplicate doc_id rows a doc_id partition would mix
    # two documents' anchor sets (r11 extended --dups gate finding;
    # identical on unique-PK corpora). rid is only a partition
    # identity — it never reaches the output.
    # THE hash swap point is dedup._salted_hash(_sql) — route through it
    # so a hash-function swap reaches the CDC boundary contract too.
    h=_dedup._salted_hash_sql(
        "'cdc'",
        f"array_to_string(w[CAST(p AS INT):CAST(p AS INT) + {CDC_GRAM} - 1], ' ')",
    )
)


@register("ext_chunk_cdc", oracle=_CDC_ORACLE)
def ext_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/restic trick) at
    token granularity: a chunk boundary opens wherever the salted
    hash of the local {CDC_GRAM}-token window ≡ 0 (mod
    {CDC_DIVISOR}), so boundaries are decided by CONTENT, not
    offsets — insert one sentence and only the chunks touching it
    change fingerprints, where fixed-width chunking
    (`ext_chunk_sliding`) shifts every downstream boundary. The
    report is the storage/dedup payoff: distinct vs total chunk
    fingerprints = the cross-document redundancy a chunk-level
    store would reclaim. Complements `ext_fingerprint_winnow`
    (winnowing selects REPRESENTATIVE grams for matching; CDC
    PARTITIONS the stream for storage).

    Exactness: boundaries and fingerprints are integer md5
    arithmetic on exact token slices, identical on both engines;
    position 1 is always a chunk start and anchor positions start
    at 2 (no zero-length head chunk); docs shorter than
    {CDC_GRAM}+1 tokens form one whole-doc chunk. The ratio is one
    shared rounded division; the mean is integer micro division.

    Scale shape (r6 review rewrite): anchor mining, chunk slicing,
    AND fingerprinting all happen in ONE scan-local HOF projection —
    the token array never leaves its scan task (the earlier form
    shuffled a copy of `w` per chunk-start row through a per-doc
    window, ~n/{CDC_DIVISOR}x corpus amplification). Only 32-char
    fingerprints shuffle, into one keyed distinct-count agg. The
    sequence() is guarded against Spark's descending-when-b<a
    behavior for short docs; explode_outer + notNull keeps the HOF
    chain out of InferFiltersFromGenerate's duplicated pre-shuffle
    evaluation (the `_exploded_shingles` lesson)."""
    d = load(spark, sf_dir, "documents")
    anchors = (
        f"transform(filter(transform("
        f"CASE WHEN size(w) >= {CDC_GRAM} + 1 "
        f"THEN sequence(2, size(w) - {CDC_GRAM} + 1) ELSE array() END, "
        f"p -> named_struct('p', p, 'h', "
        f"CAST(conv(substring(md5(concat_ws(':', 'cdc', "
        f"array_join(slice(w, p, {CDC_GRAM}), ' '))), 1, 15), 16, 10) AS BIGINT))), "
        f"s -> s.h % {CDC_DIVISOR} = 0), s -> CAST(s.p AS INT))"
    )
    t = d.select(F.split("text", " ").alias("w")).selectExpr(
        "size(w) AS n_tok", f"concat(array(1), {anchors}) AS starts", "w"
    ).selectExpr(
        "n_tok",
        "concat(transform(slice(starts, 2, size(starts) - 1), x -> x - 1), "
        "array(n_tok)) AS fins",
        "starts",
        "w",
    )
    fps = t.select(
        "n_tok",
        F.expr(
            "transform(sequence(1, size(starts)), i -> "
            "md5(array_join(slice(w, element_at(starts, i), "
            "element_at(fins, i) - element_at(starts, i) + 1), ' ')))"
        ).alias("fps"),
    )
    ch = fps.select(F.explode_outer("fps").alias("chunk_fp")).filter(
        F.col("chunk_fp").isNotNull()
    )
    docs = fps.agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok")
    )
    return (
        docs.crossJoin(
            ch.agg(
                F.count("*").alias("total_chunks"),
                F.countDistinct("chunk_fp").alias("distinct_chunks"),
            )
        )
        .select(
            "n_docs",
            "total_chunks",
            "distinct_chunks",
            (F.col("total_chunks") - F.col("distinct_chunks")).alias("dup_chunks"),
            # empty corpus (total_chunks = 0): ratio/mean undefined —
            # DuckDB division by zero reads NULL, Spark ANSI crashes
            # (r7 empty-corpus sweep); nullif converges the engines
            F.round(
                F.col("distinct_chunks")
                * 1.0
                / F.nullif(F.col("total_chunks").cast("double"), F.lit(0.0)),
                6,
            ).alias("dedup_ratio"),
            F.expr("sum_tok * 1000000 div nullif(total_chunks, 0)").alias(
                "mean_chunk_tokens_micro"
            ),
        )
    )


# ------------------------------------------ quality-filter funnel

_QA_RULES_SQL = (
    ("words_5_1000", "n_words BETWEEN 5 AND 1000"),
    ("stopword_ge1", "stop_hits >= 1"),
    ("mean_wlen_2_12",
     "CAST(n_chars - n_words + 1 AS DOUBLE) / n_words BETWEEN 2 AND 12"),
)


_QA_ORACLE = f"""
WITH s AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
m AS (SELECT doc_id, n_chars, len(w) AS n_words,
      len(list_intersect(w, {_arr_lit(_STOPWORDS)})) AS stop_hits FROM s),
a AS (SELECT CAST(count(*) AS BIGINT) AS total,
{",".join(
    f'''
       CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS solo{i},
       CAST(sum(CASE WHEN {" AND ".join(c for _, c in _QA_RULES_SQL[: i + 1])}
                THEN 1 ELSE 0 END) AS BIGINT) AS cum{i}'''
    for i, (_, cond) in enumerate(_QA_RULES_SQL))}
      FROM m)
{" UNION ALL ".join(
    f"SELECT CAST({i + 1} AS BIGINT) AS stage_idx, '{name}' AS stage, "
    f"solo{i} AS solo_pass, total - solo{i} AS solo_reject, "
    f"cum{i} AS cum_pass FROM a"
    for i, (name, _) in enumerate(_QA_RULES_SQL))}
UNION ALL
SELECT CAST(0 AS BIGINT), 'total', total, CAST(0 AS BIGINT), total FROM a
"""


@register("ext_quality_ablation", oracle=_QA_ORACLE)
def ext_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel ablation for `ext_quality_gate`'s rule stack:
    per rule, how many documents pass it ALONE (marginal strictness)
    and how many survive the CUMULATIVE stack up to that rule (the
    funnel) — the report that tunes a curation pipeline. Solo vs
    cumulative separates "this rule is strict" from "this rule is
    redundant given the ones before it" (solo_reject high but
    cum_pass barely drops = the earlier rules already caught it);
    every corpus cleaner publishes exactly this table (e.g. Gopher's
    §A1 ablations, RefinedWeb's removal-rate tables).

    Exactness: the rule expressions are copied VERBATIM from the
    gate's contract (the `_QA_RULES_SQL` tuple is the single source
    both this oracle and the gate's semantics cite); counts are
    conditional BIGINT sums; the mean-word-length rule reuses the
    gate's proven integer-then-one-division expression.

    Scale shape: ONE scan-local pass computes every solo and
    cumulative flag as conditional aggregates — 2·|rules|+1 counters
    in a single agg, no shuffle beyond the scalar partials, no
    second scan per rule (the naive per-rule-job ablation reads the
    corpus |rules| times)."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    m = d.select(
        F.col("n_chars"),
        F.size(w).alias("n_words"),
        F.size(
            F.array_intersect(w, F.array(*[F.lit(s) for s in _STOPWORDS]))
        ).alias("stop_hits"),
    )
    aggs = [F.count("*").alias("total")]
    for i, (_name, cond) in enumerate(_QA_RULES_SQL):
        cum = " AND ".join(c for _, c in _QA_RULES_SQL[: i + 1])
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END")).alias(f"solo{i}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {cum} THEN 1 ELSE 0 END")).alias(f"cum{i}")
        )
    # the 1-row counter frame feeds |rules|+1 union arms — pin it or
    # each arm replays the full corpus agg, exactly the per-rule
    # re-scan the docstring forbids (r6 scan audit: 4 scans before)
    a = compute_once(m.agg(*aggs))
    parts = [
        a.select(
            F.lit(0).cast("long").alias("stage_idx"),
            F.lit("total").alias("stage"),
            F.col("total").alias("solo_pass"),
            F.lit(0).cast("long").alias("solo_reject"),
            F.col("total").alias("cum_pass"),
        )
    ]
    for i, (name, _cond) in enumerate(_QA_RULES_SQL):
        parts.append(
            a.select(
                F.lit(i + 1).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"solo{i}").alias("solo_pass"),
                (F.col("total") - F.col(f"solo{i}")).alias("solo_reject"),
                F.col(f"cum{i}").alias("cum_pass"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------- token-stream entropy rate

TOKEN_ENTROPY_SCALE = 1_000_000  # micro fixed-point per-cell terms


_TOKEN_ENTROPY_ORACLE = f"""
WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
uni AS (SELECT unnest(w) AS term FROM t),
u AS (SELECT term, CAST(count(*) AS BIGINT) AS c
      FROM uni WHERE term <> '' GROUP BY 1),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
uterm AS (SELECT CAST(round(ln(CAST(n.n AS DOUBLE) / u.c) * u.c
                            * {TOKEN_ENTROPY_SCALE}) AS BIGINT) AS term
          FROM u, n),
hu AS (SELECT CAST(sum(term) AS BIGINT) AS tsum FROM uterm),
{_BI_POS_CTES},
b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM b2 GROUP BY 1),
mm AS (SELECT CAST(sum(cab) AS BIGINT) AS m,
              CAST(count(*) AS BIGINT) AS n_bigram_types FROM b2),
bterm AS (SELECT CAST(round(ln(CAST(ra.ca AS DOUBLE) / b2.cab) * b2.cab
                            * {TOKEN_ENTROPY_SCALE}) AS BIGINT) AS term
          FROM b2 JOIN ra ON ra.a = b2.a),
hb AS (SELECT CAST(sum(term) AS BIGINT) AS tsum FROM bterm)
SELECT n.n AS n_tokens,
       (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_types,
       mm.n_bigram_types,
       round(CAST(hu.tsum AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * {TOKEN_ENTROPY_SCALE}), 6)
         AS unigram_entropy_nats,
       CASE WHEN coalesce(mm.m, 0) = 0 THEN NULL
       ELSE round(CAST(hb.tsum AS DOUBLE)
             / (CAST(mm.m AS DOUBLE) * {TOKEN_ENTROPY_SCALE}), 6) END
         AS cond_entropy_nats
FROM n, mm, hu, hb
"""


@register("ext_token_entropy_rate", oracle=_TOKEN_ENTROPY_ORACLE)
def ext_token_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream entropy rate: unigram entropy H(X) and bigram
    conditional entropy H(X_next | X_cur) of the corpus token
    process — the Shannon-style predictability ladder
    (`ext_char_entropy` at character level, this at token level,
    `agg_markov_entropy` for event streams). The GAP between the
    two numbers is what a context-1 language model can exploit;
    template-heavy or machine-generated corpora show an abnormally
    large gap (next-token nearly determined), natural prose sits
    near the Zipf-predicted band — a one-row drift audit per corpus
    release.

    Fixed-point determinism (the `agg_markov_entropy` device, cell
    counts here being token/bigram censuses): each cell's
    ln(c_ctx/c_cell)·c_cell term is micro-rounded ONCE into BIGINT
    and integer-summed — partition-order-free, exact to ~3e11
    occurrences per cell. The two entropies divide exact integer
    sums in double and round to 6dp.

    Scale shape: unigram + bigram keyed censuses (map-side partials,
    the `ext_bigram_pmi` plan family), a bigram-first-keyed rollup
    for the conditional context counts, then all-scalar combines.
    Output is ONE row; no windows, no pair joins."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("term")).filter(F.col("term") != "")
    # the vocab-bounded censuses each feed totals AND entropy terms —
    # pin them or every consumer replays its scan-explode-agg chain
    # (r6 scan audit: 6 document scans before, 2 after)
    u = compute_once(uni.groupBy("term").agg(F.count("*").alias("c")))
    n = u.agg(F.sum("c").alias("n"), F.count("*").alias("n_types"))
    hu = (
        u.crossJoin(F.broadcast(n.select("n")))
        .select(
            F.round(
                F.log(F.col("n").cast("double") / F.col("c"))
                * F.col("c")
                * TOKEN_ENTROPY_SCALE
            )
            .cast("long")
            .alias("term")
        )
        .agg(F.sum("term").alias("hu_sum"))
    )
    b2 = _bigram_census_pinned(spark, sf_dir)  # session pin (r13)
    ra = b2.groupBy("a").agg(F.sum("cab").alias("ca"))
    mm = b2.agg(
        F.sum("cab").alias("m"), F.count("*").alias("n_bigram_types")
    )
    hb = (
        b2.join(ra, "a")
        .select(
            F.round(
                F.log(F.col("ca").cast("double") / F.col("cab"))
                * F.col("cab")
                * TOKEN_ENTROPY_SCALE
            )
            .cast("long")
            .alias("term")
        )
        .agg(F.sum("term").alias("hb_sum"))
    )
    return (
        n.crossJoin(F.broadcast(mm))
        .crossJoin(F.broadcast(hu))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("n").alias("n_tokens"),
            "n_types",
            "n_bigram_types",
            F.round(
                F.col("hu_sum").cast("double")
                / (F.col("n").cast("double") * TOKEN_ENTROPY_SCALE),
                6,
            ).alias("unigram_entropy_nats"),
            F.when(F.coalesce(F.col("m"), F.lit(0)) == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("hb_sum").cast("double")
                    / (F.col("m").cast("double") * TOKEN_ENTROPY_SCALE),
                    6,
                )
            )
            .alias("cond_entropy_nats"),
        )
    )


# ------------------------------------ smoothed bigram LM scoring

LM2_SCALE = 1_000_000  # micro fixed-point per-bigram log-probs


_LM2_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
uni AS (SELECT unnest(w) AS term FROM t),
vsz AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        FROM uni WHERE term <> ''),
{_BI_DOC_POS_CTES},
b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM b2 GROUP BY 1),
lp AS (SELECT b2.a, b2.b,
              CAST(round(ln(CAST(b2.cab + 1 AS DOUBLE) / (ra.ca + vsz.v))
                         * {LM2_SCALE}) AS BIGINT) AS lp_micro
       FROM b2 JOIN ra ON ra.a = b2.a, vsz)
SELECT bi.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lp.lp_micro) AS BIGINT) AS logprob_micro,
       CAST(sum(lp.lp_micro) // count(*) AS BIGINT) AS avg_logprob_micro
FROM bi JOIN lp ON lp.a = bi.a AND lp.b = bi.b
GROUP BY 1
"""


@register("ext_lm_bigram_score", oracle=_LM2_ORACLE)
def ext_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram language-model scoring: each document's
    Σ ln((c_ab+1)/(c_a+V)) over its adjacent token bigrams — the
    context-1 upgrade of `ext_lm_unigram_score`, and the practical
    perplexity filter (CCNet-style) one rung up the n-gram ladder:
    documents whose bigram transitions are corpus-typical score
    high, word-salad and shuffled text scores low even when its
    UNIGRAMS are perfectly typical — exactly the gap
    `ext_token_entropy_rate` measures corpus-wide, applied per
    document. Laplace smoothing keeps the score defined for any
    future bigram (the denominator carries vocabulary size V).

    Fixed-point determinism: ln((c_ab+1)/(c_a+V)) is micro-rounded
    ONCE per DISTINCT bigram type (one shared expression tree over
    exact integers), then each document sums the BIGINT micro
    scores of its bigram INSTANCES — partition-order-free, and the
    per-doc average is integer floor division.

    Scale shape: bigram census + context rollup (the
    `ext_bigram_pmi` plan family), V as a broadcast scalar, then ONE
    (a, b)-keyed join of instances to scores and a doc-keyed sum.
    Scores join to the AGGREGATED bigram table (vocab²-bounded),
    never row-by-row recomputed."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    vsz = (
        toks.select(F.explode("w").alias("term"))
        .filter(F.col("term") != "")
        .agg(F.countDistinct("term").alias("v"))
    )
    # the bigram instance stream and the census are both SESSION pins
    # (r14, verdict r13 item 3): the per-doc instance stream was the
    # one piece still re-derived per invocation (scan + split +
    # posexplode); it is the census's own pre-aggregation input, so
    # the chain now runs once per session for both consumers
    bi = _bi_doc_stream_pinned(spark, sf_dir)
    b2 = _bigram_census_pinned(spark, sf_dir)  # session pin (r13)
    ra = b2.groupBy("a").agg(F.sum("cab").alias("ca"))
    lp = (
        b2.join(ra, "a")
        .crossJoin(F.broadcast(vsz))
        .select(
            "a",
            "b",
            F.round(
                F.log(
                    (F.col("cab") + 1).cast("double") / (F.col("ca") + F.col("v"))
                )
                * LM2_SCALE
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        bi.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_micro").alias("logprob_micro"),
            F.expr("CAST(sum(lp_micro) div count(*) AS BIGINT)").alias(
                "avg_logprob_micro"
            ),
        )
    )


# ----------------------------------- TextRank keyword extraction

TR_ITERS = 5
TR_INIT_MICRO = 1_000_000
TR_TOP_K = 25


def _tr_oracle() -> str:
    steps = []
    prev = "s0"
    for k in range(1, TR_ITERS + 1):
        steps.append(
            f"c{k} AS MATERIALIZED (SELECT e.b AS term, "
            f"CAST(sum((s.score * e.w) // st.strength) AS BIGINT) AS m\n"
            f"  FROM e JOIN {prev} s ON s.term = e.a "
            f"JOIN st ON st.term = e.a GROUP BY 1),\n"
            f"s{k} AS MATERIALIZED (SELECT term, "
            f"CAST(150000 + (85 * m) // 100 AS BIGINT) AS score FROM c{k})"
        )
        prev = f"s{k}"
    return f"""
WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
{_BI_POS_CTES},
b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1, 2),
e0 AS (SELECT a, b, cab AS w FROM b2
     UNION ALL SELECT b AS a, a AS b, cab AS w FROM b2),
e AS MATERIALIZED (SELECT a, b, CAST(sum(w) AS BIGINT) AS w
                   FROM e0 GROUP BY 1, 2),
st AS MATERIALIZED (SELECT a AS term, CAST(sum(w) AS BIGINT) AS strength
                    FROM e GROUP BY 1),
s0 AS (SELECT term, CAST({TR_INIT_MICRO} AS BIGINT) AS score FROM st),
{",".join(steps)}
SELECT term, score FROM {prev}
ORDER BY score DESC, term LIMIT {TR_TOP_K}
"""


@register("ext_keywords_textrank", oracle=_tr_oracle())
def ext_keywords_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the symmetric token co-occurrence graph (adjacent-bigram
    edges weighted by count), top-{TR_TOP_K} terms by converged
    score. Centrality finds the terms the corpus keeps ROUTING
    THROUGH — a different signal from frequency (`ext_tfidf_topterms`
    rewards rarity-weighted counts; TextRank rewards connectivity,
    surfacing hub terms even at moderate frequency). The fourth
    consumer of the integer-PageRank device (`ext_graph_pagerank`'s
    contract, lifted from the similarity graph to the term graph).

    Exactness: the same all-integer micro-probability recurrence —
    contributions are (score·w) div strength, the damped update is
    150000 + (85·Σ) div 100 — exact BIGINT math with a fixed
    truncation rule, parallel (a,b)/(b,a) bigram directions MERGED
    into one edge before any division (so truncation applies once
    per edge, not once per direction row),
    K={TR_ITERS} iterations AS the contract (no
    float mass, no epsilon); ties in the final top-{TR_TOP_K} break
    on the term. Safe while score·w < 2^63 (vocab to ~1e9 with edge
    weights to ~1e3, or rescale — documented). The symmetric graph
    has no dangling nodes by construction.

    Scale shape: bigram census (the `ext_bigram_pmi` family), edge
    table checkpointed once; each round is ONE src-keyed join and
    ONE dst-keyed sum over vocab²-bounded narrow rows; final
    TakeOrderedAndProject({TR_TOP_K})."""
    b2 = _bigram_census_pinned(spark, sf_dir)  # session pin (r13)
    # edge/strength tables pinned with compute_once (r14, verdict r13
    # item 6 — one-time edge partitioning built once): `e` feeds the
    # strength rollup AND the edge join, `st` feeds the edge join AND
    # the score init, so each symmetric-merge agg previously ran twice
    # per invocation inside the checkpointed chain
    e = compute_once(
        b2.select("a", "b", F.col("cab").alias("w"))
        .unionAll(
            b2.select(
                F.col("b").alias("a"), F.col("a").alias("b"), F.col("cab").alias("w")
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    st = compute_once(e.groupBy("a").agg(F.sum("w").alias("strength")))
    # lazy checkpoints (r9, the ext_graph_pagerank note): no per-round
    # collect, so the final TakeOrdered action materializes the chain
    ed = e.join(st, "a").localCheckpoint(eager=False)
    scores = st.select(
        F.col("a").alias("term"), F.lit(TR_INIT_MICRO).cast("long").alias("score")
    ).localCheckpoint(eager=False)
    for _ in range(TR_ITERS):
        contrib = ed.join(
            scores.select(F.col("term").alias("a"), "score"), "a"
        ).select(
            F.col("b").alias("term"),
            F.expr("(score * w) div strength").alias("c"),
        )
        scores = (
            contrib.groupBy("term")
            .agg(F.sum("c").alias("m"))
            .select(
                "term",
                F.expr("CAST(150000 + (85 * m) div 100 AS BIGINT)").alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    return scores.orderBy(F.desc("score"), "term").limit(TR_TOP_K)


# ------------------------------------------- BPE merge learning

BPE_STEPS = 5


def _bpe_oracle() -> str:
    steps = []
    prev = "v0"
    for k in range(1, BPE_STEPS + 1):
        steps.append(
            f"""p{k} AS MATERIALIZED (
  SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
         CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(seq, ' ') AS s, freq,
               unnest(generate_series(1, len(string_split(seq, ' ')) - 1)) AS i
        FROM {prev})
  GROUP BY 1, 2),
m{k} AS MATERIALIZED (SELECT a, b, cnt, a || ' ' || b AS pair,
              a || b AS merged
       FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
v{k} AS MATERIALIZED (SELECT trim(replace(replace(
         ' ' || v.seq || ' ', ' ' || m.pair || ' ', ' ' || m.merged || ' '),
         ' ' || m.pair || ' ', ' ' || m.merged || ' ')) AS seq, v.freq
       FROM {prev} v, m{k} m)"""
        )
        prev = f"v{k}"
    return f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
wc AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
       FROM w WHERE term <> '' GROUP BY 1),
v0 AS MATERIALIZED (SELECT array_to_string(string_split(term, ''), ' ') AS seq,
                    freq FROM wc),
{",".join(steps)}
{" UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS step, pair, merged, cnt AS pair_count FROM m{k}"
    for k in range(1, BPE_STEPS + 1))}
"""


@register("ext_bpe_learn_steps", oracle=_bpe_oracle())
def ext_bpe_learn_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned BPE merge table (r13 optimization pass):
    `ext_bpe_apply` and `ext_bpe_roundtrip` each collect this SAME
    K-row artifact to drive their serving transform, so the K-step
    learn loop (a driver-coordinated census/argmax/replace round per
    step) ran three times per session before — exactly the "train
    once, serve many" shape a real tokenizer pipeline has. See
    `_bpe_learn_build` for the full contract."""
    return session_pin(
        spark,
        sf_dir,
        "bpe_merges",
        lambda: _bpe_learn_build(spark, sf_dir),
    )


def _bpe_learn_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016), the
    first {BPE_STEPS} merges: count adjacent symbol pairs over the
    frequency-weighted word vocabulary, merge the most frequent
    pair everywhere, repeat — the exact training loop behind every
    BPE/WordPiece tokenizer, run IN the engine instead of a
    single-machine script. The learned merge table is the artifact
    `ext_tokenize_ids` consumes downstream; drift in the top merges
    between corpus releases means the tokenizer no longer fits the
    data.

    Determinism contract: argmax ties break on (symbol a, symbol b);
    the merge applies via plain (non-regex) replace with the pair
    pattern PADDED by the symbol separator on both sides (so a
    pattern can never bridge a symbol boundary — 'a b' must match
    whole symbols, never the suffix of 'xa' or the prefix of 'bc'),
    run as two fixed sub-passes because a boundary-padded replace
    consumes the shared separator (the second pass catches the
    alternate pairs of a consecutive run; runs long enough to need a
    third pass deviate from greedy BPE — deterministic, identical on
    both engines, and documented). Pair COUNTING counts overlapping
    occurrences — the standard BPE implementation quirk, also
    engine-identical.

    Scale shape: the loop runs over the DISTINCT-WORD vocabulary
    with frequencies (corpus text is never rescanned after the one
    word census — the classic BPE trick); each step is one
    pair-census agg over vocab-bounded rows, a
    TakeOrderedAndProject(1) argmax, and a broadcast-applied
    replace; vocab checkpoints per step so the plan stays flat.
    K={BPE_STEPS} is the contract (real training runs 30k steps of
    exactly this shape)."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    # lazy checkpoints (r9, the ext_graph_pagerank note): each frame
    # still materializes exactly once — on its first consumer — and
    # K scheduling barriers drop out of the merge loop
    v = wc.select(
        F.array_join(F.split("term", ""), " ").alias("seq"), "freq"
    ).localCheckpoint(eager=False)
    merges = []
    for k in range(1, BPE_STEPS + 1):
        pairs = (
            v.select(
                F.posexplode(
                    F.expr("slice(split(seq, ' '), 1, "
                           "size(split(seq, ' ')) - 1)")
                ).alias("i0", "a"),
                F.expr("split(seq, ' ')").alias("s"),
                "freq",
            )
            .select("a", F.expr("s[i0 + 1]").alias("b"), "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .select(
                F.concat_ws(" ", "a", "b").alias("pair"),
                F.concat(F.col("a"), F.col("b")).alias("merged"),
                "cnt",
            )
            .localCheckpoint(eager=False)
        )
        merges.append(
            top.select(
                F.lit(k).cast("long").alias("step"),
                "pair",
                "merged",
                F.col("cnt").alias("pair_count"),
            )
        )
        v = (
            v.crossJoin(F.broadcast(top))
            .select(
                F.expr(
                    "trim(replace(replace("
                    "' ' || seq || ' ', ' ' || pair || ' ', ' ' || merged || ' '), "
                    "' ' || pair || ' ', ' ' || merged || ' '))"
                ).alias("seq"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


# ------------------------------------------- BPE application


def _bpe_seq_expr(merges: dict) -> str:
    """The Spark apply chain: char-split `term`, then each learned
    merge in step order as the boundary-padded two-sub-pass replace.
    Shared by `ext_bpe_apply` and `ext_bpe_roundtrip` so the serving
    transform lives once."""
    seq = "array_join(split(term, ''), ' ')"
    for k in sorted(merges):
        pair, merged = merges[k]
        # Spark string literals process backslash escapes (DuckDB's do
        # not), so backslashes must double BEFORE quote-doubling or a
        # corpus merge pair containing '\' silently corrupts the
        # pattern on the Spark side only (r6 review finding).
        p = pair.replace("\\", "\\\\").replace("'", "''")
        m = merged.replace("\\", "\\\\").replace("'", "''")
        seq = (
            f"trim(replace(replace(' ' || {seq} || ' ', ' {p} ', ' {m} '), "
            f"' {p} ', ' {m} '))"
        )
    return seq


def _bpe_apply_oracle() -> str:
    # the learned merge table (step, pair, merged) from the learner's
    # oracle, applied in step order to every word of every document
    learner = _bpe_oracle()
    applies = "array_to_string(string_split(term, ''), ' ')"
    for k in range(1, BPE_STEPS + 1):
        applies = (
            f"trim(replace(replace(' ' || {applies} || ' ', "
            f"' ' || (SELECT pair FROM mm WHERE step = {k}) || ' ', "
            f"' ' || (SELECT merged FROM mm WHERE step = {k}) || ' '), "
            f"' ' || (SELECT pair FROM mm WHERE step = {k}) || ' ', "
            f"' ' || (SELECT merged FROM mm WHERE step = {k}) || ' '))"
        )
    return f"""
WITH mm AS MATERIALIZED ({learner}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
pieces AS (SELECT doc_id, term,
                  len(string_split({applies}, ' ')) AS n_pieces
           FROM tok2)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(n_pieces) * 1000000 // count(*) AS BIGINT)
         AS fertility_micro
FROM pieces GROUP BY 1
"""


@register("ext_bpe_apply", oracle=_bpe_apply_oracle())
def ext_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization INFERENCE: apply `ext_bpe_learn_steps`'
    learned merge table, in step order, to every word of every
    document, reporting per-doc word count, piece count, and
    fertility (pieces per word, the `ext_tokenizer_fertility`
    statistic — here measured under the engine-LEARNED tokenizer
    instead of a fixed regex). The train→apply pair demonstrates
    the full tokenizer lifecycle in-engine: the learner emits the
    merge artifact, this operator is its serving path, and a
    fertility jump between releases means the learned merges no
    longer fit the corpus.

    Determinism: the merge table is the learner's own (same census,
    same tie-breaks — the oracle literally embeds the learner's SQL
    as a CTE); each merge applies with the learner's boundary-padded
    two-sub-pass replace, in ascending step order (BPE application
    order IS the learned order — the real algorithm's rule). Counts
    and fertility are exact integers.

    Scale shape: the K merges arrive as a broadcast K-row table
    folded into K scan-local column transforms — corpus text is
    scanned once, nothing about the apply path shuffles; the per-doc
    rollup is one doc-keyed agg. (Unlike the learner, application
    touches every word instance — which is why it stays scan-local.)"""
    merges = {
        r.step: (r.pair, r.merged)
        for r in ext_bpe_learn_steps(spark, sf_dir).collect()
    }
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    seq = _bpe_seq_expr(merges)
    pieces = tok.select(
        "doc_id", F.expr(f"size(split({seq}, ' '))").alias("n_pieces")
    )
    return pieces.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_pieces").alias("n_pieces"),
        F.expr("CAST(sum(n_pieces) * 1000000 div count(*) AS BIGINT)").alias(
            "fertility_micro"
        ),
    )


# -------------------------------- BPE round-trip audit (r11 add)


def _bpe_roundtrip_oracle() -> str:
    learner = _bpe_oracle()
    applies = "array_to_string(string_split(term, ''), ' ')"
    for k in range(1, BPE_STEPS + 1):
        applies = (
            f"trim(replace(replace(' ' || {applies} || ' ', "
            f"' ' || (SELECT pair FROM mm WHERE step = {k}) || ' ', "
            f"' ' || (SELECT merged FROM mm WHERE step = {k}) || ' '), "
            f"' ' || (SELECT pair FROM mm WHERE step = {k}) || ' ', "
            f"' ' || (SELECT merged FROM mm WHERE step = {k}) || ' '))"
        )
    return f"""
WITH mm AS MATERIALIZED ({learner}),
tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
tok2 AS (SELECT term FROM tok WHERE term <> ''),
pieced AS (SELECT term, {applies} AS seq FROM tok2),
flags AS (SELECT term, seq,
                 CASE WHEN replace(seq, ' ', '') = term THEN 1 ELSE 0 END
                   AS ok,
                 len(string_split(seq, ' ')) AS np FROM pieced),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
               CAST(coalesce(sum(ok), 0) AS BIGINT) AS n_ok,
               CAST(count(*) - coalesce(sum(ok), 0) AS BIGINT) AS n_bad,
               CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pieces
        FROM flags),
voc AS (SELECT CAST(count(DISTINCT piece) AS BIGINT) AS vocab_size FROM
        (SELECT unnest(string_split(seq, ' ')) AS piece FROM pieced))
SELECT a.n_words, a.n_ok, a.n_bad, a.n_pieces, v.vocab_size,
       a.n_ok * 1000 // nullif(a.n_words, 0) AS roundtrip_pm
FROM agg a, voc v
"""


@register("ext_bpe_roundtrip", oracle=_bpe_roundtrip_oracle())
def ext_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ROUND-TRIP audit (r10 verdict item 6c): apply the
    engine-learned BPE merge table to every word instance, reassemble
    each word from its pieces (strip the piece separators), and
    census equality with the original word — the lossless-ness check
    a tokenizer release gate runs (BPE merges only ever CONCATENATE
    adjacent pieces, so reassembly must be the identity; a corrupted
    merge artifact, a mis-escaped pattern — the r6 backslash class —
    or a boundary-replace bug shows up as n_bad > 0 and, because the
    oracle replays the same apply chain from the same learned table,
    any ENGINE asymmetry in the apply path breaks the value hash).
    Also reports total pieces and the realized piece vocabulary.

    One row: (n_words, n_ok, n_bad, n_pieces, vocab_size,
    roundtrip_pm) — all exact BIGINTs, the ratio an integer floor
    division.

    Scale shape: inherits `ext_bpe_apply`'s serving plan (K broadcast
    merges folded into scan-local column transforms, one corpus
    scan); the reassembly equality is another scan-local expression;
    the only new motion is the piece-vocabulary DISTINCT — a
    hashed-piece agg the size of the realized vocab. The pieced
    relation is pinned (`compute_once`): the flag agg and the vocab
    census would otherwise each replay the whole apply chain."""
    merges = {
        r.step: (r.pair, r.merged)
        for r in ext_bpe_learn_steps(spark, sf_dir).collect()
    }
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    pieced = compute_once(
        tok.select("term", F.expr(_bpe_seq_expr(merges)).alias("seq"))
    )
    flags = pieced.select(
        (F.expr("replace(seq, ' ', '')") == F.col("term"))
        .cast("int")
        .alias("ok"),
        F.expr("size(split(seq, ' '))").alias("np"),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n_words"),
        F.coalesce(F.sum("ok"), F.lit(0)).cast("long").alias("n_ok"),
        (F.count("*") - F.coalesce(F.sum("ok"), F.lit(0)))
        .cast("long")
        .alias("n_bad"),
        F.coalesce(F.sum("np"), F.lit(0)).cast("long").alias("n_pieces"),
    )
    voc = (
        pieced.select(F.explode(F.split("seq", " ")).alias("piece"))
        .agg(F.countDistinct("piece").cast("long").alias("vocab_size"))
    )
    return agg.crossJoin(F.broadcast(voc)).select(
        "n_words",
        "n_ok",
        "n_bad",
        "n_pieces",
        "vocab_size",
        F.expr("n_ok * 1000 div nullif(n_words, 0)")
        .cast("long")
        .alias("roundtrip_pm"),
    )


# ------------------------------------------------ PII class census

_PHONE_RE = "[0-9]{3}-[0-9]{4}"
_IPV4_RE = "10\\.0\\.[0-9]+\\.[0-9]+"

# CAST(... AS STRING): the one cast spelling BOTH engines parse
# (Spark rejects bare VARCHAR; DuckDB accepts STRING as an alias)
_PII_DECO_SQL = (
    "text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' "
    "|| CAST(doc_id AS STRING) || '@example.com' "
    "WHEN doc_id % 3 = 1 THEN ' call 555-01' "
    "|| CAST(doc_id % 89 + 10 AS STRING) "
    "ELSE ' from 10.0.' || CAST(doc_id % 254 AS STRING) || '.7' END"
)


def _pii_census_oracle() -> str:
    classes = (
        ("email", _EMAIL_RE),
        ("phone", _PHONE_RE),
        ("ipv4", _IPV4_RE),
    )
    arms = " UNION ALL ".join(
        f"SELECT source, '{name}' AS pii_class, "
        f"CAST(sum(CASE WHEN len(regexp_extract_all(t, '{pat}')) > 0 "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS n_docs, "
        f"CAST(sum(len(regexp_extract_all(t, '{pat}'))) AS BIGINT) AS n_matches "
        f"FROM dec GROUP BY 1"
        for name, pat in classes
    )
    return f"""
WITH dec AS (SELECT source, {_PII_DECO_SQL} AS t FROM documents)
{arms}
"""


@register("ext_pii_census", oracle=_pii_census_oracle())
def ext_pii_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class PII exposure census per source: document and match
    counts for email / phone / IPv4 patterns — the MEASUREMENT side
    of `ext_pii_redact` (which scrubs one class): before a corpus
    ships, this is the per-source exposure table that decides which
    sources need redaction, manual review, or exclusion, and the
    regression metric that proves a scrub actually drove counts to
    zero. PII is synthesized deterministically onto the fixture
    (round-robin by doc_id — the testdata has none), same device as
    the redactor.

    Exactness: all three patterns live in the Java-regex/RE2 common
    subset (the `ext_pii_redact` contract — no lookarounds, no \\d
    shorthand, escaped literal dots); counts are exact BIGINTs from
    the same regexp_extract_all on both engines.

    Scale shape: ONE scan — the three regex hit counts are
    PROJECTED scan-side (one codegen'd eval per class per row;
    Spark neither fuses unioned aggregations over shared lineage —
    the earlier three-branch union re-read the corpus three times —
    nor de-duplicates a regex repeated across aggregate
    expressions, which cost 9x when the extraction lived inside the
    agg; both r6 review findings, measured), then all six sums ride
    a single (source)-keyed agg with map-side partials, then a
    6-column -> 3-row stack on the aggregate rows (the
    `agg_unpivot_long` device — bounded by |sources|, not volume).
    The DuckDB oracle keeps the 3-arm union spelling; the value
    contract is identical. At 100 TB the regex pass fuses into the
    scan exactly like the redactor."""
    classes = (
        ("email", _EMAIL_RE),
        ("phone", _PHONE_RE),
        ("ipv4", _IPV4_RE),
    )
    d = load(spark, sf_dir, "documents")
    dec = d.select("source", F.expr(_PII_DECO_SQL).alias("t"))
    proj = dec.select(
        "source",
        *[
            F.size(F.regexp_extract_all(F.col("t"), F.lit(pat), 0)).alias(
                f"{name}_hits"
            )
            for name, pat in classes
        ],
    )
    aggs = []
    for name, _ in classes:
        aggs.append(
            F.sum(
                F.when(F.col(f"{name}_hits") > 0, 1).otherwise(0)
            ).alias(f"{name}_docs")
        )
        aggs.append(
            F.sum(f"{name}_hits").cast("long").alias(f"{name}_matches")
        )
    wide = proj.groupBy("source").agg(*aggs)
    stack = ", ".join(
        f"'{name}', {name}_docs, {name}_matches" for name, _ in classes
    )
    return wide.select(
        "source",
        F.expr(
            f"stack({len(classes)}, {stack}) AS (pii_class, n_docs, n_matches)"
        ),
    ).select("source", "pii_class", "n_docs", "n_matches")


# -------------------------------------------- readability screen

# ASCII-only vowel-group class: no case mapping (lower() forks on the
# JVM-vs-utf8proc special cases the unicode sweep plants), no \s/\w
# shorthand (the \x0B lesson) — the pattern is engine-portable as-is.
_FLESCH_VOWEL_RE = "[aeiouyAEIOUY]+"
_FLESCH_SENT_RE = "[.!?]+"

# per-word syllable estimate with the standard floor of 1 syllable
# per word; exact BIGINT arithmetic until the one scoring division
_FLESCH_SYLL_SPARK = (
    "aggregate(transform(filter(split(text, ' '), t -> t <> ''), "
    f"w -> greatest(1L, size(regexp_extract_all(w, '{_FLESCH_VOWEL_RE}', 0)))), "
    "0L, (a, x) -> a + x)"
)
_FLESCH_SYLL_DUCK = (
    "coalesce(list_sum(list_transform("
    "list_filter(string_split(text, ' '), t -> t <> ''), "
    f"w -> greatest(1, len(regexp_extract_all(w, '{_FLESCH_VOWEL_RE}'))))), 0)"
)

_FLESCH_ORACLE = f"""
WITH d AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_words,
         greatest(1, len(regexp_extract_all(text, '{_FLESCH_SENT_RE}')))
           AS n_sents,
         CAST({_FLESCH_SYLL_DUCK} AS BIGINT) AS n_syll
  FROM documents),
s AS (
  SELECT source, n_words,
         CASE WHEN n_words = 0 THEN NULL
              ELSE round(206.835e0 - 1.015e0 * (n_words * 1e0 / n_sents)
                         - 84.6e0 * (n_syll * 1e0 / n_words), 6) END AS score
  FROM d)
SELECT source,
       CAST(floor(score / 10) AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       min(score) AS min_score,
       max(score) AS max_score
FROM s GROUP BY 1, 2
"""


@register("ext_readability_flesch", oracle=_FLESCH_ORACLE)
def ext_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease census per source: the classic readability
    screen web-corpus curation runs beside `ext_text_quality` — very
    low scores flag legalese/minified boilerplate, impossibly high
    scores flag token soup, and per-source band histograms decide
    which sources need a readability gate before training. Syllables
    use the standard vowel-group approximation ([aeiouyAEIOUY]+ runs,
    floor 1/word — a pure-ASCII class, so no case-mapping fork);
    sentences are punctuation runs with floor 1.

    Bit-stable float contract: words/sentences/syllables are exact
    BIGINTs from scan-local HOFs; the score is ONE identical
    double-expression tree on both engines over those integers,
    rounded to 6dp BEFORE the band floor (round-before-compare rule),
    and the only per-band float aggregates are order-free min/max.
    Zero-word docs (empty or NULL text) read a NULL score and land in
    the NULL band — the unscored row is visible, not dropped.

    Scale shape: one scan; tokenize/regex/score all fuse into the
    scan projection (zero Python, zero shuffle), then a single
    (source, band)-keyed agg with map-side partials — the combine
    collapses to |sources| x ~40 bands regardless of corpus size."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)"
        ).alias("n_words"),
        F.expr(
            f"greatest(1, size(regexp_extract_all(text, '{_FLESCH_SENT_RE}', 0)))"
        ).alias("n_sents"),
        F.expr(_FLESCH_SYLL_SPARK).alias("n_syll"),
    ).select(
        "source",
        "n_words",
        F.expr(
            "CASE WHEN n_words = 0 THEN NULL "
            "ELSE round(206.835e0 - 1.015e0 * (n_words * 1e0 / n_sents) "
            "- 84.6e0 * (n_syll * 1e0 / n_words), 6) END"
        ).alias("score"),
    )
    return scored.groupBy(
        "source",
        F.expr("CAST(floor(score / 10) AS BIGINT)").alias("band"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


# ---------------------------------------------- code-vs-prose gate

# Deterministic code decoration (the testdata corpus is pure prose,
# same device as the PII census): every 5th doc gains a C-ish
# statement, every other 5th a Python-ish def — space-separated so
# the token census sees them; NULL text stays NULL through ||.
_CODE_DECO_SQL = (
    "text || CASE WHEN doc_id % 5 = 2 "
    "THEN ' if ( n > 0 ) { return n ; }' "
    "WHEN doc_id % 5 = 4 THEN ' def f ( x ) : return x * 2' "
    "ELSE '' END"
)
# literal char class — every metachar is literal inside [] in BOTH
# Java regex and RE2; no shorthand, no case mapping
_CODE_SYM_RE = "[{}();:=*<>]"
_CODE_KEYWORDS = ("if", "return", "def", "for", "while", "int", "var")
_CODE_SCORE_FLOOR = 100000  # score_micro >= 0.1 tokens-weight => code


def _code_detect_oracle() -> str:
    kws = ", ".join(f"'{k}'" for k in _CODE_KEYWORDS)
    return f"""
WITH dec AS (SELECT source, {_CODE_DECO_SQL} AS t FROM documents),
sig AS (
  SELECT source,
         CAST(coalesce(len(regexp_extract_all(t, '{_CODE_SYM_RE}')), 0)
              AS BIGINT) AS n_sym,
         CAST(coalesce(len(list_filter(string_split(t, ' '),
              x -> list_contains([{kws}], x))), 0) AS BIGINT) AS n_kw,
         CAST(coalesce(len(list_filter(string_split(t, ' '),
              x -> x <> '')), 0) AS BIGINT) AS n_tok
  FROM dec),
sc AS (
  SELECT source, n_sym, n_kw,
         CAST((3 * n_kw + n_sym) * 1000000 // greatest(1, n_tok)
              AS BIGINT) AS score_micro
  FROM sig)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score_micro >= {_CODE_SCORE_FLOOR}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(n_sym) AS BIGINT) AS n_sym,
       CAST(sum(n_kw) AS BIGINT) AS n_kw,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM sc GROUP BY 1
"""


@register("ext_code_detect", oracle=_code_detect_oracle())
def ext_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector census per source — the curation gate
    that routes source code OUT of the prose mixture (or into a code
    bucket with its own dedup/quality rules): symbol density
    ({}();:=*<> runs) plus a keyword-token census, combined into an
    integer per-token density score. Code is synthesized
    deterministically onto the fixture (doc_id round-robin, the
    `ext_pii_census` device) because the testdata is pure prose.

    Exactness: symbol counts ride a literal ASCII char class (every
    metachar is literal inside [] in both Java regex and RE2);
    keyword hits are TOKEN-list membership, not regex word
    boundaries (Java \\b is unicode-aware where RE2's is ASCII — a
    divergence class this op refuses to enter); the density score is
    integer fixed-point (micro-units, floor division, zero-token
    guard). Every output column is an exact BIGINT.

    Scale shape: one scan, all signals fused into the scan
    projection as codegen'd expressions, one |sources|-keyed agg
    with map-side partials. The flag threshold is a constant, so at
    100 TB the gate composes with `ext_quality_gate` as one more
    scan-local predicate — no extra pass."""
    kws = ", ".join(f"'{k}'" for k in _CODE_KEYWORDS)
    d = load(spark, sf_dir, "documents")
    sig = d.select(
        "source",
        F.expr(_CODE_DECO_SQL).alias("t"),
    ).select(
        "source",
        F.expr(
            f"CAST(coalesce(size(regexp_extract_all(t, '{_CODE_SYM_RE}', 0)), -1)"
            " AS BIGINT)"
        ).alias("n_sym_raw"),
        F.expr(
            f"CAST(coalesce(size(filter(split(t, ' '), "
            f"x -> array_contains(array({kws}), x))), -1) AS BIGINT)"
        ).alias("n_kw_raw"),
        F.expr(
            "CAST(coalesce(size(filter(split(t, ' '), x -> x <> '')), -1)"
            " AS BIGINT)"
        ).alias("n_tok_raw"),
    ).select(
        "source",
        F.expr("greatest(n_sym_raw, 0L)").alias("n_sym"),
        F.expr("greatest(n_kw_raw, 0L)").alias("n_kw"),
        F.expr("greatest(n_tok_raw, 0L)").alias("n_tok"),
    )
    sc = sig.select(
        "source",
        "n_sym",
        "n_kw",
        F.expr(
            "CAST((3 * n_kw + n_sym) * 1000000 div greatest(1, n_tok)"
            " AS BIGINT)"
        ).alias("score_micro"),
    )
    return sc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("score_micro") >= _CODE_SCORE_FLOOR, 1).otherwise(0)
        ).cast("long").alias("n_flagged"),
        F.sum("n_sym").alias("n_sym"),
        F.sum("n_kw").alias("n_kw"),
        F.max("score_micro").alias("max_score_micro"),
    )


# ------------------------------------------- per-domain cap audit

DOMAIN_CAP = 25

_DOMAIN_CAP_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(coalesce(len(list_distinct(list_filter(
              string_split(text, ' '), t -> t <> ''))), 0)
              AS BIGINT) AS quality,
         CAST(coalesce(len(list_filter(string_split(text, ' '),
              t -> t <> '')), 0) AS BIGINT) AS n_tok
  FROM documents),
r AS (
  SELECT source, quality, n_tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id, n_tok DESC)
           AS rn
  FROM q)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > {DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       min(CASE WHEN rn <= {DOMAIN_CAP} THEN quality END) AS cut_quality,
       max(CASE WHEN rn > {DOMAIN_CAP} THEN quality END)
         AS best_dropped_quality,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN n_tok ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM r GROUP BY 1
"""


@register("ext_domain_cap", oracle=_DOMAIN_CAP_ORACLE)
def ext_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap retention audit — the web-corpus balancing pass
    that stops one mega-domain from dominating the mixture: keep the
    top-{DOMAIN_CAP} docs per source by a deterministic quality proxy
    (distinct-token count — lexical richness) and report, per source,
    what the cap kept, what it dropped, the quality at the cut, and
    the best casualty. `ext_sample_per_group` takes a UNIFORM quota
    (md5 order); this is the QUALITY-ordered variant with the audit
    columns curation reviews demand.

    Determinism under ties (incl. the --dups PK-violating sweep):
    rank order is (quality DESC, doc_id, n_tok DESC), so rows tied on
    the full key are interchangeable w.r.t. every output aggregate —
    all columns depend only on the (quality, n_tok) multiset and the
    cap boundary, never on which tied twin got which rank.

    Scale shape: quality is scan-local; ONE shuffle on source feeds
    the rank window. The audit needs dropped-side stats, so the full
    per-source sort runs (no WindowGroupLimit push) — at 100 TB with
    mega-domains you'd first aggregate a per-source quality histogram
    and derive the cut from it (one agg, no sort), then apply the cap
    as a scan-local predicate; the exact-rank audit here is the
    certificate that bootstraps that threshold."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(coalesce(size(array_distinct(filter(split(text, ' '), "
            "t -> t <> ''))), 0) AS BIGINT)"
        ).alias("quality"),
        F.expr(
            "CAST(coalesce(size(filter(split(text, ' '), t -> t <> '')), 0)"
            " AS BIGINT)"
        ).alias("n_tok"),
    )
    w = W.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id"), F.col("n_tok").desc()
    )
    r = q.select(
        "source", "quality", "n_tok", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= DOMAIN_CAP
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.min(F.when(kept, F.col("quality"))).alias("cut_quality"),
        F.max(F.when(~kept, F.col("quality"))).alias("best_dropped_quality"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0))).cast(
            "long"
        ).alias("kept_tokens"),
    )


# ----------------------------- Kneser-Ney continuation counts

KN_TOP_K = 40

_KN_ORACLE = f"""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i])) AS l,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i + 1])) AS r
  FROM t WHERE len(w) >= 2),
p AS (SELECT DISTINCT l, r FROM bg),
cc AS (SELECT r AS word, CAST(count(*) AS BIGINT) AS n_left_contexts
       FROM p GROUP BY 1),
rr AS (SELECT l AS word, CAST(count(*) AS BIGINT) AS n_right_types
       FROM p GROUP BY 1),
b AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM p)
SELECT coalesce(cc.word, rr.word) AS word,
       coalesce(cc.n_left_contexts, 0) AS n_left_contexts,
       coalesce(rr.n_right_types, 0) AS n_right_types,
       round(coalesce(cc.n_left_contexts, 0) * 1e0 / b.nb, 6)
         AS cont_prob
FROM cc FULL OUTER JOIN rr ON cc.word = rr.word CROSS JOIN b
ORDER BY n_left_contexts DESC, word LIMIT {KN_TOP_K}
"""


@register("ext_lm_kn_continuation", oracle=_KN_ORACLE)
def ext_lm_kn_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation statistics — the smoothing counts a
    real n-gram LM build needs beyond raw frequencies
    (`ext_lm_unigram_score` / `ext_lm_bigram_score` score with
    frequencies; KN replaces a word's unigram weight with HOW MANY
    DISTINCT CONTEXTS it continues): per word, N1+(·w) = distinct
    left neighbors (continuation count), N1+(w·) = distinct right
    neighbors (the normalizer of KN's backoff weight), and the
    continuation probability N1+(·w)/|distinct bigrams|. "san
    francisco" is the canonical case: high frequency, tiny
    continuation count. Top-{KN_TOP_K} by continuation count.

    Exactness: all counts are exact BIGINTs over the DISTINCT bigram
    set; the one division is rounded 6dp; the top-K order
    (n_left_contexts DESC, word) is a total order.

    Scale shape: bigram zip is SCAN-LOCAL (arrays_zip of two slices
    — no posexplode+window, no per-token shuffle beyond the explode
    itself); the distinct-pair frame is pinned once (compute_once —
    three consumers would otherwise re-scan and re-tokenize the
    corpus 3x), then two vocab-bounded aggs, a vocab-keyed outer
    join, a broadcast scalar, and TakeOrderedAndProject for the
    top-K. Every post-explode key is bounded by |distinct bigrams|,
    which n-gram scaling laws put far below corpus token volume."""
    d = load(spark, sf_dir, "documents")
    bg = (
        d.select(
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("w")
        )
        .where("size(w) >= 2")
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(w, 1, size(w) - 1), "
                    "slice(w, 2, size(w) - 1))"
                )
            ).alias("z")
        )
        .select(F.col("z.0").alias("l"), F.col("z.1").alias("r"))
    )
    p = compute_once(bg.distinct())
    cc = p.groupBy(F.col("r").alias("word")).agg(
        F.count("*").alias("n_left_contexts")
    )
    rr = p.groupBy(F.col("l").alias("word")).agg(
        F.count("*").alias("n_right_types")
    )
    b = p.agg(F.count("*").alias("nb"))
    joined = (
        cc.join(rr, "word", "full_outer")
        .crossJoin(F.broadcast(b))
        .select(
            "word",
            F.coalesce("n_left_contexts", F.lit(0)).alias("n_left_contexts"),
            F.coalesce("n_right_types", F.lit(0)).alias("n_right_types"),
            F.expr(
                "round(coalesce(n_left_contexts, 0) * 1e0 / nb, 6)"
            ).alias("cont_prob"),
        )
    )
    return joined.orderBy(
        F.col("n_left_contexts").desc(), "word"
    ).limit(KN_TOP_K)


# --------------------------------- moving-average type-token ratio

MATTR_W = 20

_MATTR_ORACLE = f"""
WITH t AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
f AS (SELECT source, w, len(w) // {MATTR_W} AS nwin
      FROM t WHERE len(w) >= {MATTR_W}),
win AS (
  SELECT source,
         unnest(list_transform(generate_series(0, nwin - 1),
             j -> len(list_distinct(
                 w[j * {MATTR_W} + 1 : j * {MATTR_W} + {MATTR_W}]))))
           AS n_distinct
  FROM f)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(n_distinct) AS BIGINT) AS distinct_sum,
       round(sum(n_distinct) * 1e0 / (count(*) * {MATTR_W}), 6) AS mattr,
       round(min(n_distinct) * 1e0 / {MATTR_W}, 6) AS min_ttr,
       round(max(n_distinct) * 1e0 / {MATTR_W}, 6) AS max_ttr
FROM win GROUP BY 1
"""


@register("ext_ttr_mattr", oracle=_MATTR_ORACLE)
def ext_ttr_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, disjoint-window form)
    per source — the length-invariant lexical-diversity metric: raw
    TTR collapses as documents grow (types saturate, tokens don't),
    so corpus curation compares sources on fixed-{MATTR_W}-token
    window TTR instead; low MATTR flags template/boilerplate farms
    that per-doc `ext_text_repetition` (adjacent repeats) and corpus
    `ext_vocab_census` (global vocab) both miss. Full windows only —
    a partial tail window would re-introduce exactly the length bias
    the metric exists to remove; docs under {MATTR_W} tokens
    contribute nothing (stated contract on both engines).

    Exactness: per-window distinct counts are exact BIGINTs from
    scan-local array ops; MATTR and the min/max window TTRs are
    single divisions of exact integers rounded 6dp; min/max commute
    with the (monotone) division so the order-free integer extrema
    feed them.

    Scale shape: tokenize, window slicing and distinct counting all
    fuse into the scan projection (the exploded rows carry ONE
    integer each — the token arrays never shuffle); a single
    (source)-keyed agg with map-side partials. At 100 TB this is a
    corpus scan plus a |sources|-row shuffle."""
    d = load(spark, sf_dir, "documents")
    f = (
        d.select(
            "source",
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("w"),
        )
        .where(f"size(w) >= {MATTR_W}")
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) div {MATTR_W} - 1), "
                    f"j -> size(array_distinct(slice(w, j * {MATTR_W} + 1, "
                    f"{MATTR_W}))))"
                )
            ).alias("n_distinct"),
        )
    )
    return f.groupBy("source").agg(
        F.count("*").alias("n_windows"),
        F.sum("n_distinct").cast("long").alias("distinct_sum"),
        F.expr(
            f"round(sum(n_distinct) * 1e0 / (count(*) * {MATTR_W}), 6)"
        ).alias("mattr"),
        F.expr(f"round(min(n_distinct) * 1e0 / {MATTR_W}, 6)").alias(
            "min_ttr"
        ),
        F.expr(f"round(max(n_distinct) * 1e0 / {MATTR_W}, 6)").alias(
            "max_ttr"
        ),
    )


# -------------------------- temperature-scaled mixture weights

TEMP_ALPHA = "0.7e0"  # exponent literal, double on BOTH engines

_TEMP_ORACLE = f"""
WITH c AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         -- coalesce matches the Spark side's n_tokens -> 0 fold: a
         -- lang whose documents all have NULL text is zero tokens on
         -- BOTH engines, not NULL here / 0 there (r9 ADVICE)
         CAST(coalesce(sum(len(list_filter(string_split(text, ' '),
              t -> t <> ''))), 0) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM c),
w AS (
  SELECT lang, n_docs, n_tokens, total,
         CASE WHEN total = 0 THEN 0
              ELSE CAST(floor(power(n_tokens * 1e0 / total, {TEMP_ALPHA})
                   * 1e9 + 0.5) AS BIGINT) END AS w_nano
  FROM c, t),
s AS (SELECT CAST(sum(w_nano) AS BIGINT) AS sumw FROM w)
SELECT lang, n_docs, n_tokens,
       CASE WHEN sumw = 0 THEN NULL
            ELSE round(w_nano * 1e0 / sumw, 6) END AS sample_weight,
       CASE WHEN n_tokens = 0 OR sumw = 0 THEN NULL
            ELSE round(w_nano * 1e0 * total / (sumw * 1e0 * n_tokens), 6)
       END AS upsample_x
FROM w, s
"""


@register("ext_sample_temperature", oracle=_TEMP_ORACLE)
def ext_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (exponent-smoothed) language sampling
    weights — the multilingual-LM mixture rule (α = 0.7): raw token
    shares p_i are flattened to q_i ∝ p_i^α so head languages stop
    drowning the tail without inverting the order.
    `ext_mixture_schedule` turns TARGET shares into epochs/rates;
    this op DERIVES the target shares from observed counts, plus the
    implied per-language upsample factor q_i/p_i.

    Float contract: token counts are exact BIGINTs; p_i^α is ONE
    identical power() expression tree on both engines, immediately
    round-once-to-nano-BIGINT (floor(x·1e9 + 0.5) — the
    `agg_markov_entropy` device) so the normalizing SUM runs over
    exact integers (a float Σ would be summation-order-dependent);
    the two final divisions are round-6. Zero-token languages weigh
    0 with a NULL upsample, and an all-empty corpus (total = 0)
    reads every weight NULL instead of riding a NaN into an ANSI
    BIGINT cast (guarded on both engines).

    Scale shape: one (lang)-keyed agg with map-side partials, one
    scalar total, one |langs|-row weight projection + scalar sum.
    Corpus volume only ever crosses the wire as per-lang partial
    sums."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.expr("size(filter(split(text, ' '), t -> t <> ''))")
        ).cast("long").alias("n_tokens"),
    ).withColumn("n_tokens", F.expr("coalesce(n_tokens, 0L)"))
    t = c.agg(F.sum("n_tokens").cast("long").alias("total"))
    w = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "total",
        F.expr(
            "CASE WHEN total = 0 THEN 0 ELSE "
            f"CAST(floor(power(n_tokens * 1e0 / total, {TEMP_ALPHA}) * 1e9"
            " + 0.5) AS BIGINT) END"
        ).alias("w_nano"),
    )
    s = w.agg(F.sum("w_nano").cast("long").alias("sumw"))
    return w.crossJoin(F.broadcast(s)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.expr(
            "CASE WHEN sumw = 0 THEN NULL ELSE "
            "round(w_nano * 1e0 / sumw, 6) END"
        ).alias("sample_weight"),
        F.expr(
            "CASE WHEN n_tokens = 0 OR sumw = 0 THEN NULL ELSE "
            "round(w_nano * 1e0 * total / (sumw * 1e0 * n_tokens), 6) END"
        ).alias("upsample_x"),
    )


# ----------------------------------- char-trigram language profile

TRI_TOP_K = 20

_TRI_PROFILE_ORACLE = f"""
WITH t AS (
  SELECT lang, text FROM documents
  WHERE text IS NOT NULL AND len(text) >= 3),
g AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, len(text) - 2),
                               i -> text[i : i + 2])) AS tri
  FROM t),
c AS (SELECT lang, tri, CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY 1, 2),
r AS (SELECT lang, tri, n, row_number() OVER (
        PARTITION BY lang ORDER BY n DESC, tri) AS rank
      FROM c)
SELECT lang, tri, n, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {TRI_TOP_K}
"""


@register("ext_char_ngram_profile", oracle=_TRI_PROFILE_ORACLE)
def ext_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram frequency profile (top-{TRI_TOP_K}
    per language) — the training table behind every classic n-gram
    language identifier (textcat / CLD-style): `fn_lang_detect` SCORES
    documents against fixed marker lists; this op BUILDS the profile
    that such markers come from, and doubles as the per-language
    character-distribution fingerprint a corpus datacard ships. Docs
    under 3 chars contribute nothing (stated, both engines).

    Exactness: trigram extraction is code-point substring slicing —
    Spark's UTF8String substring and DuckDB's array-style slice both
    index code points (the unicode gate proves it on the emoji/CJK
    fixture); counts are exact BIGINTs; the per-language top-K order
    (n DESC, tri) is a total order.

    Scale shape: the slice positions ride a scan-local
    transform+sequence (one array per doc, exploded immediately to
    3-char strings — the token arrays never shuffle); one
    (lang, tri)-keyed agg with map-side partials (the combine
    collapses to per-partition alphabet³ cardinality, not text
    volume); the rank window partitions by lang over the AGGREGATE
    rows. WindowGroupLimit pushes the rank<=K cap into the
    per-partition sort."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").where(
        "text IS NOT NULL AND length(text) >= 3"
    )
    g = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2), "
                "i -> substring(text, i, 3))"
            )
        ).alias("tri"),
    )
    c = g.groupBy("lang", "tri").agg(F.count("*").alias("n"))
    r = c.select(
        "lang",
        "tri",
        "n",
        F.row_number()
        .over(W.partitionBy("lang").orderBy(F.col("n").desc(), "tri"))
        .cast("long")
        .alias("rank"),
    )
    return r.where(f"rank <= {TRI_TOP_K}")


# ------------------------- cross-release datacard diff (r9 item 4c)

_DCDIFF_TOKENS_DUCK = "len(string_split(text, ' '))"

_DCDIFF_ORACLE = """
WITH v1 AS (SELECT doc_id, source, lang, text FROM documents
            WHERE doc_id % 7 <> 0),
v2 AS (SELECT doc_id, source, lang,
              CASE WHEN doc_id % 3 = 0 THEN text || ' [rev2]'
                   ELSE text END AS text
       FROM documents WHERE doc_id % 5 <> 0),
c1 AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs_v1,
              CAST(coalesce(sum({TOK}), 0) AS BIGINT) AS n_tokens_v1
       FROM v1 GROUP BY 1, 2),
c2 AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs_v2,
              CAST(coalesce(sum({TOK}), 0) AS BIGINT) AS n_tokens_v2
       FROM v2 GROUP BY 1, 2),
st AS (SELECT coalesce(a.source, b.source) AS source,
              coalesce(a.lang, b.lang) AS lang,
              CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END AS is_added,
              CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END AS is_removed,
              CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                        AND a.text <> b.text
                   THEN 1 ELSE 0 END AS is_changed
       FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
sa AS (SELECT source, lang,
              CAST(sum(is_added) AS BIGINT) AS n_added,
              CAST(sum(is_removed) AS BIGINT) AS n_removed,
              CAST(sum(is_changed) AS BIGINT) AS n_changed
       FROM st GROUP BY 1, 2),
cells AS (SELECT coalesce(c1.source, c2.source) AS source,
                 coalesce(c1.lang, c2.lang) AS lang,
                 coalesce(n_docs_v1, 0) AS n_docs_v1,
                 coalesce(n_docs_v2, 0) AS n_docs_v2,
                 coalesce(n_tokens_v1, 0) AS n_tokens_v1,
                 coalesce(n_tokens_v2, 0) AS n_tokens_v2
          FROM c1 FULL OUTER JOIN c2
            ON c1.source IS NOT DISTINCT FROM c2.source
           AND c1.lang IS NOT DISTINCT FROM c2.lang)
SELECT c.source, c.lang, c.n_docs_v1, c.n_docs_v2,
       c.n_docs_v2 - c.n_docs_v1 AS d_docs,
       c.n_tokens_v1, c.n_tokens_v2,
       c.n_tokens_v2 - c.n_tokens_v1 AS d_tokens,
       coalesce(sa.n_added, 0) AS n_added,
       coalesce(sa.n_removed, 0) AS n_removed,
       coalesce(sa.n_changed, 0) AS n_changed
FROM cells c LEFT JOIN sa
  ON sa.source IS NOT DISTINCT FROM c.source
 AND sa.lang IS NOT DISTINCT FROM c.lang
WHERE c.n_docs_v2 <> c.n_docs_v1 OR c.n_tokens_v2 <> c.n_tokens_v1
   OR coalesce(sa.n_changed, 0) > 0
   OR coalesce(sa.n_added, 0) > 0 OR coalesce(sa.n_removed, 0) > 0
""".replace("{TOK}", _DCDIFF_TOKENS_DUCK)


@register("ext_datacard_diff", oracle=_DCDIFF_ORACLE)
def ext_datacard_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-release datacard DIFF (r9 verdict item 4c): which
    (source, lang) cells of the dataset card MOVED between release v1
    and release v2, and why — `ext_corpus_datacard`'s per-cell
    doc/token counts crossed with `ext_dataset_diff`'s release device
    (v1 = doc_id % 7 != 0; v2 = doc_id % 5 != 0 with doc_id % 3 == 0
    texts revised). Per moved cell: both releases' doc and token
    counts, the deltas, and the WHY decomposition — how many docs
    were added, removed, or content-changed in that cell (the
    `[rev2]` suffix changes the token count, so changed docs move
    d_tokens without moving d_docs). Cells where nothing moved are
    excluded: the output is the release-notes delta table, not the
    full card.

    Cross-engine contracts: token counts are the datacard's
    size(split(text, ' ')) with the sum coalesced to 0 (an
    all-NULL-text cell is zero tokens on both engines, the
    `ext_sample_temperature` convention); "changed" is the STRICT
    text inequality of `ext_dataset_diff` (a NULL-text pair is NOT
    changed — Spark compares sha2 fingerprints, DuckDB raw text,
    identical absent SHA-256 collisions); cell joins are null-safe
    (`<=>` / IS NOT DISTINCT FROM) so a NULL source or lang is ONE
    cell on both engines, not two join-miss rows.

    Scale shape: the documents scan is read once (compute_once pin —
    v1, v2, and the status join all derive from it), reduced in the
    scan to (doc_id, source, lang, fingerprint, token count) — text
    never shuffles. Then one doc_id-keyed full-outer join (the
    `ext_dataset_diff` motion, co-located under the bucketed layout)
    and two kilobyte-scale (source, lang) aggs with map-side
    partials. Output is bounded by |sources| x |langs|."""
    tok = F.size(F.split(F.col("text"), " "))
    rev_text = F.concat(F.col("text"), F.lit(" [rev2]"))
    is_rev = F.col("doc_id") % 3 == 0
    # ONE documents scan carries both releases' fingerprint + token
    # columns (v1, v2, and the status join all derive from this pin)
    d = compute_once(
        load(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            "lang",
            tok.alias("n_tok"),
            F.sha2(F.col("text"), 256).alias("fp"),
            F.when(is_rev, F.size(F.split(rev_text, " ")))
            .otherwise(tok)
            .alias("n_tok2"),
            F.when(is_rev, F.sha2(rev_text, 256))
            .otherwise(F.sha2(F.col("text"), 256))
            .alias("fp2"),
        )
    )
    v1 = d.filter(F.col("doc_id") % 7 != 0)
    v2 = d.filter(F.col("doc_id") % 5 != 0)
    c1 = v1.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs_v1"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("n_tokens_v1"),
    )
    c2 = v2.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs_v2"),
        F.coalesce(F.sum("n_tok2"), F.lit(0)).cast("long").alias("n_tokens_v2"),
    )
    a = v1.select(
        F.col("doc_id"),
        F.col("source").alias("src1"),
        F.col("lang").alias("lang1"),
        F.col("fp").alias("fp1"),
        F.lit(True).alias("in1"),
    )
    b = v2.select(
        F.col("doc_id"),
        F.col("source").alias("src2"),
        F.col("lang").alias("lang2"),
        F.col("fp2"),
        F.lit(True).alias("in2"),
    )
    st = a.join(b, "doc_id", "full_outer").select(
        F.coalesce("src1", "src2").alias("source"),
        F.coalesce("lang1", "lang2").alias("lang"),
        F.coalesce("in1", F.lit(False)).alias("in1"),
        F.coalesce("in2", F.lit(False)).alias("in2"),
        "fp1",
        "fp2",
    )
    sa = st.groupBy("source", "lang").agg(
        F.sum((~F.col("in1")).cast("long")).alias("n_added"),
        F.sum((~F.col("in2")).cast("long")).alias("n_removed"),
        F.sum(
            (
                F.col("in1")
                & F.col("in2")
                & F.coalesce(F.col("fp1") != F.col("fp2"), F.lit(False))
            ).cast("long")
        ).alias("n_changed"),
    )
    # c1/c2 (and cells/sa) descend from the same pinned scan, so the
    # join keys need explicit dataset aliases or Spark's ambiguous-
    # self-join check rejects the plan
    cells = (
        c1.alias("c1")
        .join(
            c2.alias("c2"),
            F.col("c1.source").eqNullSafe(F.col("c2.source"))
            & F.col("c1.lang").eqNullSafe(F.col("c2.lang")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("c1.source"), F.col("c2.source")).alias("source"),
            F.coalesce(F.col("c1.lang"), F.col("c2.lang")).alias("lang"),
            F.coalesce("n_docs_v1", F.lit(0)).alias("n_docs_v1"),
            F.coalesce("n_docs_v2", F.lit(0)).alias("n_docs_v2"),
            F.coalesce("n_tokens_v1", F.lit(0)).alias("n_tokens_v1"),
            F.coalesce("n_tokens_v2", F.lit(0)).alias("n_tokens_v2"),
        )
    )
    out = cells.alias("cl").join(
        sa.alias("sa"),
        F.col("cl.source").eqNullSafe(F.col("sa.source"))
        & F.col("cl.lang").eqNullSafe(F.col("sa.lang")),
        "left",
    ).select(
        F.col("cl.source").alias("source"),
        F.col("cl.lang").alias("lang"),
        "n_docs_v1",
        "n_docs_v2",
        (F.col("n_docs_v2") - F.col("n_docs_v1")).alias("d_docs"),
        "n_tokens_v1",
        "n_tokens_v2",
        (F.col("n_tokens_v2") - F.col("n_tokens_v1")).alias("d_tokens"),
        F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce("n_changed", F.lit(0)).cast("long").alias("n_changed"),
    )
    # r10 ADVICE: include n_added/n_removed so a cell with BALANCED
    # churn (one doc added + one removed, equal token totals, no
    # content change) still surfaces — the docstring promises the
    # add/remove decomposition for release notes, and balanced churn
    # is exactly the case a reviewer wants flagged (mirrored in the
    # oracle's WHERE clause)
    return out.filter(
        (F.col("d_docs") != 0)
        | (F.col("d_tokens") != 0)
        | (F.col("n_changed") > 0)
        | (F.col("n_added") > 0)
        | (F.col("n_removed") > 0)
    )


# --------------------- context-window truncation-waste audit (r10)

PACK_WASTE_WINDOWS = (512, 2048, 8192)

_PACK_WASTE_ORACLE = f"""
WITH d AS (SELECT coalesce(len(list_filter(string_split(text, ' '),
                t -> t <> '')), 0) AS n_tok FROM documents),
w AS (SELECT unnest([{', '.join(str(w) for w in PACK_WASTE_WINDOWS)}])
        AS context_window),
j AS (SELECT w.context_window, d.n_tok FROM d CROSS JOIN w)
SELECT CAST(context_window AS BIGINT) AS context_window,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_tok <= context_window THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fit,
       CAST(sum(CASE WHEN n_tok > context_window THEN 1 ELSE 0 END)
            AS BIGINT) AS n_truncated,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(greatest(n_tok - context_window, 0)) AS BIGINT)
         AS tokens_dropped,
       CASE WHEN sum(n_tok) = 0 THEN 0.0
            ELSE round(sum(greatest(n_tok - context_window, 0)) * 1e0
                       / sum(n_tok), 6) END AS drop_frac
FROM j GROUP BY context_window
"""


@register("ext_packing_waste", oracle=_PACK_WASTE_ORACLE)
def ext_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation-waste audit: for each candidate
    max-sequence-length in {PACK_WASTE_WINDOWS}, how many documents
    fit, how many would be truncated, and what fraction of corpus
    tokens truncation throws away — the one-pass table that decides
    a training run's max_seq_len BEFORE committing to it. The dual
    of the packing family: `ext_pack_sequences` measures PADDING
    waste after greedy packing at one window, `ext_length_histogram`
    shows the raw shape — this prices the TRUNCATION side across the
    windows actually under consideration.

    Exactness: token counts are the whitespace-token BIGINT contract
    (empty-token filter, NULL text -> 0 via coalesce — the
    `ext_sample_temperature` convention); per-window sums are
    integer; drop_frac is one round-6 division with the empty-corpus
    (0 tokens) arm pinned to 0.0 on both engines.

    Scale shape: n_tok is computed once in the scan projection (one
    integer per doc — text never leaves the scan); the 3-row window
    spine broadcasts into a bounded 3x fan-out of single-integer
    rows; one (context_window)-keyed agg with map-side partials
    collapses everything to |windows| rows. No joins on data keys,
    no windows, no shuffle of anything data-sized."""
    wins = F.array(*[F.lit(w) for w in PACK_WASTE_WINDOWS])
    d = load(spark, sf_dir, "documents").select(
        F.coalesce(
            F.expr("size(filter(split(text, ' '), t -> t <> ''))"),
            F.lit(0),
        ).alias("n_tok")
    )
    j = d.select("n_tok", F.explode(wins).alias("context_window"))
    g = j.groupBy("context_window").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("n_tok") <= F.col("context_window")).cast("long"))
        .cast("long")
        .alias("n_fit"),
        F.sum((F.col("n_tok") > F.col("context_window")).cast("long"))
        .cast("long")
        .alias("n_truncated"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.sum(F.greatest(F.col("n_tok") - F.col("context_window"), F.lit(0)))
        .cast("long")
        .alias("tokens_dropped"),
    )
    return g.select(
        F.col("context_window").cast("long").alias("context_window"),
        "n_docs",
        "n_fit",
        "n_truncated",
        "tokens_total",
        "tokens_dropped",
        F.when(F.col("tokens_total") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("tokens_dropped") * 1.0 / F.col("tokens_total"), 6
            )
        )
        .alias("drop_frac"),
    )


# ------------------- retriever rank agreement via RBO (r10)

RBO_P = 0.9  # persistence: top-weightedness of the overlap measure
RBO_ONE_MINUS_P = "0.1e0"  # spelled as its own literal: 1.0 - 0.9 in
# IEEE doubles is 0.09999999999999998, NOT 0.1 — both engines must
# multiply by the SAME constant, so neither ever computes 1 - p

# T(m) = sum_{i=m..K} round_nano15(p^(i-1) / i): the per-item RBO
# contribution of an item first covered by both prefixes at depth m.
# The K suffix sums are PRECOMPUTED here in Python and inlined as
# BIGINT literals into BOTH engines (r10 ADVICE: a runtime power() is
# specified only to 1 ulp — Java Math.pow vs libm pow can diverge on
# a knife-edge term and flip the floor(+0.5) rounding
# nondeterministically across JVM/libc versions; fixed integer
# constants make the contract exact by definition). T(m) then reads
# as one element_at/list-index lookup, no per-row fold at all.
_RBO_SUFFIX_SUMS = []
_acc = 0
for _i in range(FUSE_POOL_K, 0, -1):
    _acc += int((RBO_P ** (_i - 1)) / _i * 1e15 + 0.5)
    _RBO_SUFFIX_SUMS.append(_acc)
_RBO_SUFFIX_SUMS.reverse()  # index m-1 -> T(m)
del _acc, _i

_RBO_TERM_SUM_SPARK = (
    "element_at(array("
    + ", ".join(f"{v}L" for v in _RBO_SUFFIX_SUMS)
    + "), CAST(m AS INT))"
)

_RBO_ORACLE = f"""
WITH {{ARMS}},
b AS (SELECT greatest(lex_rank, vec_rank) AS m FROM f
      WHERE lex_rank IS NOT NULL AND vec_rank IS NOT NULL),
t AS (SELECT m, ([{", ".join(f"CAST({v} AS BIGINT)" for v in _RBO_SUFFIX_SUMS)}])[m] AS ts
      FROM b)
SELECT CAST({FUSE_POOL_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(coalesce(sum(ts), 0) * {RBO_ONE_MINUS_P} / 1e15, 6) AS rbo
FROM t
"""


def _rank_rbo_oracle() -> str:
    return _RBO_ORACLE.replace("{ARMS}", _fusion_arms_cte())


@register("ext_rank_rbo", oracle=_rank_rbo_oracle())
def ext_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS'10) between the two
    retriever arms `ext_hybrid_rank_fusion` fuses — the lexical BM25
    top-{FUSE_POOL_K} and the int8 vector top-{FUSE_POOL_K}. RRF
    answers "what is the consensus ranking"; RBO answers the
    diagnostic question BEFORE fusing: how much do the retrievers
    even agree? (RBO ≈ 1 ⇒ the second retriever adds nothing;
    RBO ≈ 0 ⇒ they see disjoint corpora slices — fusion is load-
    bearing.) This is prefix-truncated RBO_min at depth K: no
    extrapolation term, so it is a hard lower bound and exactly
    computable. One row: (k, n_overlap, rbo).

    Exactness device: RBO = (1-p)·Σ_d p^(d-1)·|A_d ∩ B_d|/d
    regroups per ITEM as Σ_items T(max(rank_a, rank_b)) with
    T(m) = Σ_{{i=m..K}} p^(i-1)/i — the K suffix sums are
    precomputed in Python as 1e15-scaled BIGINT literals inlined
    into BOTH engines (r10 ADVICE: no runtime power(), whose 1-ulp
    latitude could flip a floor(+0.5) knife-edge across JVM/libc
    versions), so T(m) is one array lookup and every sum is
    exact-integer and order-free; (1-p) is spelled as its own 0.1e0
    literal because IEEE 1.0-0.9 ≠ 0.1. Zero-overlap arms read rbo
    0.0, not NULL, on both engines.

    Scale shape: both arms end in TakeOrderedAndProject (K rows);
    the agreement math touches ≤ 2K rows and the T(m) fold is a
    ≤ K-element in-row sequence — corpus cost is the two retriever
    scans, the measure itself is metadata-sized (the
    `ext_hybrid_rank_fusion` asymmetry, verbatim)."""
    f = _fusion_arms_pinned(spark, sf_dir).select("lex_rank", "vec_rank")
    b = f.where(
        F.col("lex_rank").isNotNull() & F.col("vec_rank").isNotNull()
    ).select(F.greatest("lex_rank", "vec_rank").alias("m"))
    t = b.select(F.expr(_RBO_TERM_SUM_SPARK).alias("ts"))
    return t.agg(
        F.lit(FUSE_POOL_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_overlap"),
        F.round(
            F.coalesce(F.sum("ts"), F.lit(0))
            * F.expr(RBO_ONE_MINUS_P)
            / F.lit(1e15),
            6,
        ).alias("rbo"),
    )
