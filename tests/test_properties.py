"""Property-based tests (hypothesis) for engine invariants that unit
examples can't cover exhaustively: cleaning idempotence, bucket
totality/boundaries, shingle counting, and the salted-agg equivalence
(SURVEY §5 — the property layer on top of the DuckDB oracle gate).

Properties run through real Spark expressions (one local relation per
case batch) so they test the engine's semantics, not a Python
re-implementation.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

import os.path as _osp

TOOLS_DIR = _osp.join(_osp.dirname(_osp.dirname(_osp.abspath(__file__))), "tools")

from social_media_data_pipeline_recession_political_sentiment_spark.functions.text import (
    clean_comment,
    normalize_text,
    sentiment_bucket,
    strip_urls,
)

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=80
)
scores = st.floats(
    min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False
)


def _col_out(spark, values, typ, expr):
    df = spark.createDataFrame([(v,) for v in values], f"t {typ}")
    return [r.out for r in df.select(expr.alias("out")).collect()]


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_clean_comment_idempotent(spark, vals):
    """Cleaning an already-cleaned comment changes nothing (the
    reference applies its cleaner exactly once, `Reddit_4chan_
    Analysis.py:55-63`; idempotence makes re-runs safe)."""
    once = _col_out(spark, vals, "string", clean_comment(F.col("t")))
    twice = _col_out(spark, once, "string", clean_comment(F.col("t")))
    assert once == twice


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_normalize_output_alphabet(spark, vals):
    """normalize_text output contains only [a-z0-9\\s] (ref regex
    `[^a-zA-Z0-9\\s]` + lower, `Reddit_4chan_Analysis.py:61`)."""
    for out in _col_out(spark, vals, "string", normalize_text(F.col("t"))):
        assert re.fullmatch(r"[a-z0-9\s]*", out), out


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_strip_urls_leaves_no_http_tokens(spark, vals):
    for out in _col_out(spark, vals, "string", strip_urls(F.col("t"))):
        assert not re.search(r"https?://\S", out), out


@given(st.lists(scores, min_size=1, max_size=16))
@settings(**_SETTINGS)
def test_sentiment_bucket_total_and_boundaries(spark, vals):
    """Every score lands in exactly one bucket with the reference's
    inclusive ±0.05 boundaries (`Reddit_4chan_Analysis.py:150-160`)."""
    outs = _col_out(spark, vals, "double", sentiment_bucket(F.col("t")))
    for v, out in zip(vals, outs):
        expected = "positive" if v >= 0.05 else "negative" if v <= -0.05 else "neutral"
        assert out == expected, (v, out)


@given(st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_shingle_count_matches_token_count(spark, n_tokens_list):
    """A doc with n whitespace tokens yields max(n-2, 0) 3-gram
    shingles when all tokens are distinct (SURVEY §2.8
    `udtf_explode_shingles`)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        _with_shingles,
    )

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(n_tokens_list)
        if n > 0
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n for r in _with_shingles(df).select("doc_id", F.size("sh").alias("n")).collect()}
    for i, n in enumerate(n_tokens_list):
        if n > 0:
            assert out[i] == max(n - 2, 0), (n, out[i])


@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 10**6)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_salted_agg_equals_plain_groupby(spark, rows):
    """The two-phase salted aggregation is semantically transparent:
    identical to a plain GROUP BY count for any input (the §2.4
    `agg_salted_skew` invariant)."""
    df = spark.createDataFrame(rows, "k string, ident long")
    plain = {
        r.k: r.cnt
        for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()
    }
    salted = (
        df.withColumn("salt", F.pmod(F.xxhash64("ident"), F.lit(4)))
        .groupBy("k", "salt")
        .agg(F.count("*").alias("c"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("cnt"))
    )
    assert {r.k: r.cnt for r in salted.collect()} == plain


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_nfc_normalization_idempotent(spark, vals):
    """NFC(NFC(x)) == NFC(x) for arbitrary input (Unicode guarantees
    normalization is idempotent; the UDF must preserve that)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        _nfc_normalize,
    )

    df = spark.createDataFrame([(v,) for v in vals], "t string")
    out = df.select(
        _nfc_normalize(F.col("t")).alias("once"),
    ).select(
        "once", _nfc_normalize(F.col("once")).alias("twice")
    )
    assert all(r.once == r.twice for r in out.collect())


@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_data_split_total_and_stable(spark, ids):
    """Every key lands in exactly one split, and re-running assigns
    identical buckets (pure function of the key)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    import os, tempfile

    rows = [(i, "x", "en", "s", 1) for i in set(ids)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_prop_")
    d.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    q = queries()["ext_data_split"]
    a = {r.doc_id: (r.bucket, r.split) for r in q(spark, tmp).collect()}
    b = {r.doc_id: (r.bucket, r.split) for r in q(spark, tmp).collect()}
    assert a == b
    assert set(a) == {r[0] for r in rows}
    assert all(0 <= v[0] <= 9 and v[1] in ("train", "val", "test") for v in a.values())


@given(
    st.lists(st.integers(min_value=0, max_value=700), min_size=0, max_size=40)
)
@settings(**_SETTINGS)
def test_next_fit_packing_matches_sequential_reference(spark, token_counts):
    """ext_pack_sequences' applyInPandas body must equal the plain
    sequential next-fit recurrence for arbitrary token counts
    (including zero-token and over-capacity docs)."""
    import pandas as pd

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        PACK_CAPACITY,
        ext_pack_sequences,
    )

    # reference: pure-python next-fit in doc_id order
    expect = {}
    bin_id, nxt, first = 0, 0, True
    for i, n in enumerate(token_counts):
        if first:
            bin_id, off, first = 0, 0, False
        elif nxt + n <= PACK_CAPACITY:
            off = nxt
        else:
            bin_id, off = bin_id + 1, 0
        expect[i] = (n, bin_id, off)
        nxt = off + n

    # engine: run the registered operator over a synthetic docs dir
    # (text = n single-char tokens so the token count equals n)
    import os
    import tempfile

    rows = [
        (i, " ".join(["x"] * n) if n else "", "en", "s", 1)
        for i, n in enumerate(token_counts)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pack_prop_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in ext_pack_sequences(spark, tmp).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),  # doc_id: spans >= 4 shards
            st.integers(min_value=0, max_value=700),  # n_tokens
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_shard_stitch_matches_reference(spark, docs):
    """The range-sharded packer must equal the pure-python model:
    next-fit packing WITHIN each (lang, shard) domain, language-global
    bin ids stitched as shard-local id + sum of earlier shards' bin
    counts. A single-language corpus spread over many doc_id shards is
    exactly the skew case the sharded domain exists for (VERDICT r4:
    one-task-per-language packing)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        PACK_CAPACITY,
        PACK_SHARD_WIDTH,
        ext_pack_sequences,
    )

    # pure-python reference: per-shard next-fit, then prefix-sum stitch
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n in docs:
        by_shard.setdefault(doc_id // PACK_SHARD_WIDTH, []).append((doc_id, n))
    expect = {}
    bin_base = 0
    for shard in sorted(by_shard):
        bin_id, nxt, first = 0, 0, True
        for doc_id, n in sorted(by_shard[shard]):
            if first:
                bin_id, off, first = 0, 0, False
            elif nxt + n <= PACK_CAPACITY:
                off = nxt
            else:
                bin_id, off = bin_id + 1, 0
            expect[doc_id] = (n, bin_base + bin_id, off)
            nxt = off + n
        bin_base += bin_id + 1

    rows = [
        (doc_id, " ".join(["x"] * n) if n else "", "en", "s", 1)
        for doc_id, n in docs
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pack_shard_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in ext_pack_sequences(spark, tmp).collect()
    }
    assert got == expect


def test_pack_sequences_multi_shard_single_language(spark):
    """Deterministic anchor for the property above: one language, 5
    shards, every shard holding multiple bins — global bin ids must be
    strictly increasing across shard boundaries with no reuse."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        PACK_SHARD_WIDTH,
        ext_pack_sequences,
    )

    # 10 docs per shard x 5 shards, 200 tokens each => ~2-3 bins/shard
    rows = [
        (s * PACK_SHARD_WIDTH + i, " ".join(["x"] * 200), "en", "s", 1)
        for s in range(5)
        for i in range(10)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pack_ms_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    out = sorted(
        ext_pack_sequences(spark, tmp).collect(), key=lambda r: r.doc_id
    )
    assert len(out) == 50
    shard_bins: dict[int, set[int]] = {}
    for r in out:
        shard_bins.setdefault(r.doc_id // PACK_SHARD_WIDTH, set()).add(r.bin_id)
    assert len(shard_bins) == 5
    prev_max = -1
    for s in sorted(shard_bins):
        # bins of consecutive shards tile [0, total) without overlap
        assert min(shard_bins[s]) == prev_max + 1
        prev_max = max(shard_bins[s])
    # 2 docs of 200 tokens fit a 512 bin, a third doesn't => 5 bins of
    # 10 docs per shard
    assert prev_max + 1 == 25


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lss_equals_label_propagation_property(spark, edges):
    """Star contraction and label propagation must agree on arbitrary
    small graphs (self-loops, duplicate edges, isolated nodes)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd

    n = 26
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long") if edges else (
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    lp = {r.doc_id: r.component for r in dd._label_propagate(docs, pairs).collect()}
    lss = {r.doc_id: r.component for r in dd._large_small_star(docs, pairs).collect()}
    assert lss == lp


def test_path_graph_at_label_prop_budget_boundary(spark, monkeypatch):
    """Adversarial diameter: on a path graph label propagation needs
    ~diameter rounds, so just past the round budget it must fail LOUD
    (RuntimeError — never silently wrong labels), while large-star/
    small-star converges on the same graph within a budget of the
    O(log² n) order. The budget is monkeypatched small so the
    boundary is exercised without a 50-round fixture."""
    import pytest

    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd

    budget = 6
    monkeypatch.setattr(dd, "LABEL_PROP_MAX_ROUNDS", budget)
    n = 12  # path diameter 11 > budget; convergence also needs a
    # fixpoint-observation round, so budget 6 is well past exhausted
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd._label_propagate(docs, pairs).collect()

    # the same graph, a same-order budget: star contraction converges
    monkeypatch.setattr(dd, "LSS_MAX_ROUNDS", 12)  # ≈ log2(12)² ≈ 13
    lss = {
        r.doc_id: r.component
        for r in dd._large_small_star(docs, pairs).collect()
    }
    assert lss == {i: 0 for i in range(n)}

    # boundary sanity: a graph whose diameter fits the budget converges
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "doc_a long, doc_b long"
    )
    short_docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    lp = {
        r.doc_id: r.component
        for r in dd._label_propagate(short_docs, short).collect()
    }
    assert lp == {i: 0 for i in range(4)}


def test_passage_dedup_matches_sequential_reference(spark):
    """ext_dedup_passage vs a pure-Python first-occurrence scan on a
    seeded random corpus engineered for heavy passage reuse: chunking,
    corpus-wide keep decisions, and re-assembly must agree exactly
    regardless of Spark partitioning."""
    import random

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        PASSAGE_W,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    # small vocab + shared phrase pool => passages repeat across docs
    phrases = [
        " ".join(rng.choices(vocab, k=PASSAGE_W)) for _ in range(10)
    ]
    docs = []
    for did in range(40):
        parts = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.6:
                parts.append(phrases[rng.randrange(len(phrases))])
            else:
                parts.append(
                    " ".join(rng.choices(vocab, k=rng.randint(1, 11)))
                )
        docs.append((did, " ".join(parts)))

    # sequential reference: first occurrence in (doc_id, idx) order
    seen: set[str] = set()
    expect = {}
    for did, text in docs:
        words = text.split(" ")
        chunks = [
            " ".join(words[i : i + PASSAGE_W])
            for i in range(0, len(words), PASSAGE_W)
        ]
        kept = []
        for ch in chunks:
            if ch not in seen:
                seen.add(ch)
                kept.append(ch)
        expect[did] = (len(chunks), len(kept), " ".join(kept))

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(7)
    chunks = df.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {PASSAGE_W}.0) as int) - 1), "
                f"i -> array_join(slice(w, i * {PASSAGE_W} + 1, {PASSAGE_W}), ' '))"
            )
        ).alias("idx", "passage"),
    )
    first = F.row_number().over(W.partitionBy("passage").orderBy("doc_id", "idx"))
    got = {
        r.doc_id: (r.n_passages, r.n_kept, r.dedup_text)
        for r in chunks.withColumn("keep", first == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list("
                        "CASE WHEN keep THEN struct(idx, passage) END)), s -> s.passage)"
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("dedup_text"),
        )
        .collect()
    }
    assert got == expect


def test_sessionize_matches_sequential_reference_with_boundary_gaps(spark):
    """Batch sessionization vs a pure-Python gaps-and-islands scan on
    a seeded random event stream that INCLUDES exactly-30-minute gaps
    — pinning the operator's boundary rule (gap == threshold stays in
    the same session; only gap > threshold splits) under arbitrary
    Spark partitioning."""
    import random

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        SESSION_GAP_US,
    )

    rng = random.Random(20260814)
    rows = []
    eid = 0
    for uid in range(6):
        us = rng.randrange(10**15)
        for _ in range(rng.randint(3, 40)):
            rows.append((eid, uid, us, rng.randrange(-500, 500)))
            eid += 1
            r = rng.random()
            if r < 0.25:
                us += SESSION_GAP_US  # exact boundary: must NOT split
            elif r < 0.5:
                us += SESSION_GAP_US + 1  # just past: must split
            else:
                us += rng.randrange(1, SESSION_GAP_US)

    # sequential reference
    expect = {}
    by_user: dict[int, list] = {}
    for e, u, us, c in sorted(rows, key=lambda t: (t[1], t[2], t[0])):
        by_user.setdefault(u, []).append((us, c))
    for u, evs in by_user.items():
        seq = 0
        prev = None
        for us, c in evs:
            if prev is None or us - prev > SESSION_GAP_US:
                seq += 1
                expect[(u, seq)] = [us, us, 0, 0]
            s = expect[(u, seq)]
            s[1] = us
            s[2] += 1
            s[3] += c
            prev = us
    expect = {k: tuple(v) for k, v in expect.items()}

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, cents long"
    ).repartition(5)
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    new_s = (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US) | F.lag(
        "us"
    ).over(w).isNull()
    got = {
        (r.user_id, r.session_seq): (r.start_us, r.end_us, r.n_events, r.cents_sum)
        for r in df.withColumn("new_s", new_s.cast("long"))
        .withColumn(
            "session_seq",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            F.count("*").alias("n_events"),
            F.sum("cents").alias("cents_sum"),
        )
        .collect()
    }
    assert got == expect


def test_int8_quantize_adversarial_vectors(spark):
    """The absmax int8 scheme on hostile inputs: all-zero vectors,
    single-spike vectors, tiny magnitudes, sign-heavy vectors — codes
    must match the NumPy replication elementwise and stay in
    [-127, 127]."""
    import numpy as np

    from pyspark.sql import functions as F
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        _with_int8_codes,
    )

    vecs = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1e30, 0.0, -1e30, 1.0]),
        (2, [1e-30, -1e-30, 5e-31, 0.0]),
        (3, [-1.0, -1.0, -1.0, -1.0]),
        (4, [0.1, -0.2, 0.3, -0.4]),
        (5, [127.0, -127.0, 63.5, -63.5]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.scale, list(r.codes))
        for r in _with_int8_codes(df).collect()
    }
    for vid, v in vecs:
        a = np.asarray(v, dtype=np.float64)
        amax = np.abs(a).max()
        if amax == 0.0:
            assert got[vid] == (0.0, [0, 0, 0, 0])
            continue
        scale = amax / 127.0
        codes = np.clip(np.floor(a / scale + 0.5), -127, 127).astype(np.int64)
        assert got[vid][0] == scale, vid
        assert got[vid][1] == codes.tolist(), vid
        assert all(-127 <= c <= 127 for c in got[vid][1])


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=20),
        min_size=1,
        max_size=4,
    )
)
@settings(**_SETTINGS)
def test_ewma_recurrence_property(spark, series_list):
    """agg_ewma_volume's integer recurrence, run through the real
    applyInPandas stage over arbitrary per-type daily series, equals
    a sequential reference — including the first-day seed and the
    per-step floor division."""
    import datetime as dt

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        EWMA_ALPHA_PCT,
        EWMA_MICRO,
    )

    rows = []
    for t, series in enumerate(series_list):
        for i, n in enumerate(series):
            rows.append((f"t{t}", dt.date(2024, 1, 1) + dt.timedelta(days=i), n))
    df = spark.createDataFrame(rows, "event_type string, day date, n long")

    # run the identical pandas stage the operator uses, over this frame
    import pandas as pd

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        s, out = 0, []
        for i, n in enumerate(int(x) for x in pdf["n"]):
            s = (
                n * EWMA_MICRO
                if i == 0
                else (EWMA_ALPHA_PCT * n * EWMA_MICRO + (100 - EWMA_ALPHA_PCT) * s) // 100
            )
            out.append(s)
        pdf["ewma_micros"] = pd.Series(out, dtype="int64")
        return pdf

    got = {
        (r.event_type, r.day): r.ewma_micros
        for r in df.groupBy("event_type")
        .applyInPandas(ewma, schema="event_type string, day date, n long, ewma_micros long")
        .collect()
    }
    for t, series in enumerate(series_list):
        s = 0
        for i, n in enumerate(series):
            s = (
                n * EWMA_MICRO
                if i == 0
                else (EWMA_ALPHA_PCT * n * EWMA_MICRO + (100 - EWMA_ALPHA_PCT) * s) // 100
            )
            assert got[(f"t{t}", dt.date(2024, 1, 1) + dt.timedelta(days=i))] == s


@given(
    st.lists(
        st.text(alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126), min_size=0, max_size=200),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_phash_bands_match_sql_definition(spark, texts_):
    """The pandas phash stage and the oracle's SQL band definition
    agree on arbitrary printable-ASCII payloads (block assignment,
    integer cross-multiplied threshold, band packing)."""
    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.multimodal import (
        _phash_bands,
        attach_media_columns,
    )

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts_)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3)
        for r in _phash_bands(attach_media_columns(df)).collect()
    }
    con = duckdb.connect()
    con.register("media_py", __import__("pandas").DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    ))
    sql = """
WITH media AS (SELECT doc_id, text FROM media_py),
idx AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM media),
pos AS (SELECT doc_id, ord(text[CAST(i AS INT)]) AS v,
               ((i - 1) * 64) // length(text) AS b FROM idx),
blk AS (SELECT doc_id, b, CAST(sum(v) AS BIGINT) AS bsum,
               CAST(count(*) AS BIGINT) AS cnt FROM pos GROUP BY doc_id, b),
tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n FROM pos GROUP BY doc_id),
bits AS (SELECT blk.doc_id, blk.b,
               CASE WHEN blk.bsum * tot.n > tot.s * blk.cnt THEN 1 ELSE 0 END AS bit
         FROM blk JOIN tot ON blk.doc_id = tot.doc_id),
bands AS (SELECT d.doc_id,
  CAST(coalesce(sum(CASE WHEN bit = 1 AND b // 16 = 0 THEN 1 << (b % 16) END), 0) AS BIGINT) AS b0,
  CAST(coalesce(sum(CASE WHEN bit = 1 AND b // 16 = 1 THEN 1 << (b % 16) END), 0) AS BIGINT) AS b1,
  CAST(coalesce(sum(CASE WHEN bit = 1 AND b // 16 = 2 THEN 1 << (b % 16) END), 0) AS BIGINT) AS b2,
  CAST(coalesce(sum(CASE WHEN bit = 1 AND b // 16 = 3 THEN 1 << (b % 16) END), 0) AS BIGINT) AS b3
  FROM media d LEFT JOIN bits ON d.doc_id = bits.doc_id GROUP BY d.doc_id)
SELECT doc_id, b0, b1, b2, b3 FROM bands
"""
    expect = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.sql(sql).fetchall()}
    assert got == expect


@given(
    st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=8)
)
@settings(**_SETTINGS)
def test_largest_remainder_allocation_properties(spark, group_sizes):
    """Hamilton allocation over arbitrary group sizes: totals exactly
    S when the population allows, every allocation is within 1 of
    the exact proportional share, and no group exceeds its size."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        STRAT_SAMPLE,
    )

    total = sum(group_sizes)
    base = {i: n * STRAT_SAMPLE // total for i, n in enumerate(group_sizes)}
    rem = {i: (n * STRAT_SAMPLE) % total for i, n in enumerate(group_sizes)}
    leftover = STRAT_SAMPLE - sum(base.values())
    for i in sorted(rem, key=lambda i: (-rem[i], i))[:leftover]:
        base[i] += 1
    assert sum(base.values()) == STRAT_SAMPLE
    for i, n in enumerate(group_sizes):
        exact = n * STRAT_SAMPLE / total
        assert abs(base[i] - exact) < 1.0
        if total >= STRAT_SAMPLE:
            assert base[i] <= max(n, 1)


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_quantiles_two_phase_property(spark, values):
    """agg_quantiles_exact_dist on arbitrary (duplicate-heavy, skewed)
    value multisets: every emitted (q, target_rank, value) equals the
    element at rank ceil(q*n) of the sorted multiset — the two-phase
    device agrees with the sequential definition regardless of how the
    range exchange splits the data."""
    import math
    import shutil
    import uuid

    import datetime as dt

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        QUANTILE_QS,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        queries,
    )

    work = f"/tmp/smdp_qprop/{uuid.uuid4().hex[:8]}"
    rows = [
        (i, dt.datetime(2021, 1, 1), float(v)) for i, v in enumerate(values)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).repartition(4).write.parquet(f"{work}/events.parquet")
    try:
        out = queries()["agg_quantiles_exact_dist"](spark, work).collect()
        srt = sorted((v, i) for i, _, v in rows)
        n = len(srt)
        assert len(out) == len(QUANTILE_QS)
        for r in out:
            t = max(1, math.ceil(r.q * n))
            assert r.target_rank == t
            assert r.value == srt[t - 1][0]
    finally:
        shutil.rmtree(work, ignore_errors=True)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),  # user
                  st.integers(min_value=0, max_value=3)),  # extra events
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gini_two_phase_matches_closed_form_property(spark, user_specs):
    """agg_user_gini on arbitrary skewed user distributions: the
    distributed two-phase Σi·xᵢ equals the sequential closed form on
    the sorted counts — regardless of how the range exchange splits
    the (duplicate-heavy) count multiset."""
    import datetime as dt
    import shutil
    import uuid

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        queries,
    )

    rows, eid = [], 0
    for user, extra in user_specs:
        for _ in range(1 + extra):
            eid += 1
            rows.append((eid, dt.datetime(2021, 1, 1), user))
    work = f"/tmp/smdp_gprop/{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    ).repartition(4).write.parquet(f"{work}/events.parquet")
    try:
        (got,) = queries()["agg_user_gini"](spark, work).collect()
        counts = {}
        for _, _, u in rows:
            counts[u] = counts.get(u, 0) + 1
        xs = [x for _, x in sorted((u, x) for u, x in counts.items())]
        xs.sort()  # ascending x; ties by user don't change sum(i*x)
        n, tot = len(xs), sum(xs)
        wsum = sum((i + 1) * x for i, x in enumerate(xs))
        assert got.n_users == n and got.total_events == tot
        assert got.gini == float(2 * wsum - (n + 1) * tot) / float(n * tot)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_words = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=0, max_size=12
)


@given(_words, st.sampled_from([2, 3, 5]), st.booleans())
@settings(**_SETTINGS)
def test_gram_array_expr_matches_python_reference(spark, words, k, distinct):
    """The consolidated word-k-gram builder (six operators depend on
    it) must agree with the obvious Python reference for arbitrary
    token lists, every k, and both distinct-nesses — including docs
    shorter than k (empty result, not a crash: the descending-
    sequence guard)."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        gram_array_expr,
    )

    text = " ".join(words)
    # split(' ') semantics: '' yields ['']
    toks = text.split(" ")
    ref = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    if distinct:
        ref = list(dict.fromkeys(ref))
    df = spark.createDataFrame([(text,)], "text string").withColumn(
        "tk", F.split("text", " ")
    )
    got = df.select(
        F.expr(gram_array_expr(k, distinct=distinct)).alias("g")
    ).collect()[0].g
    assert got == ref


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**9),  # trials
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_shared_double_fragments_cross_engine_exact(spark, specs):
    """The Wilson / A/B-sizing closed forms are SINGLE SQL fragments
    evaluated verbatim by both engines with every operand CAST AS
    DOUBLE (r6 review finding: DuckDB parses bare decimal literals
    as exact DECIMAL — 1.96*1.96 = 3.8416 — while Python pre-folds
    to 3.8415999999999997, a ulp gap that can flip round/ceil on
    boundary groups). Property: for arbitrary hits/trials the
    fragments produce BIT-IDENTICAL results on Spark and DuckDB."""
    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        _AB_NREQ_SQL,
        _WILSON_LB_SQL,
    )

    rows = [(int(round(t * frac)), t) for t, frac in specs]
    df = spark.createDataFrame(rows, "hits long, trials long")
    got = [
        (r.lb, r.nreq)
        for r in df.select(
            F.expr(_WILSON_LB_SQL).alias("lb"),
            F.expr(_AB_NREQ_SQL).alias("nreq"),
        ).collect()
    ]
    values = ", ".join(
        f"(CAST({h} AS BIGINT), CAST({t} AS BIGINT))" for h, t in rows
    )
    want = duckdb.sql(
        f"SELECT {_WILSON_LB_SQL} AS lb, {_AB_NREQ_SQL} AS nreq "
        f"FROM (VALUES {values}) AS s(hits, trials)"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_wilson_bound_never_emits_negative_zero(spark):
    """Zero-sign pin (r7 json-edge sweep): at p = 0 the Wilson bound
    is mathematically zero but arrives as a ±epsilon whose sign the
    engines' round() treat differently — DuckDB keeps -0.0, Spark's
    BigDecimal round yields +0.0 — and the plain float equality in
    the property test above cannot see it (Python 0.0 == -0.0). The
    shared fragment's trailing `+ 0.0` canonicalizes the zero; this
    pin checks the SIGN BIT on both engines across the hits=0 grid
    (trials=15 was the observed divergent cell)."""
    import math

    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        _WILSON_LB_SQL,
    )

    rows = [(0, t) for t in range(1, 61)]
    df = spark.createDataFrame(rows, "hits long, trials long")
    for v in [r.lb for r in df.select(F.expr(_WILSON_LB_SQL).alias("lb")).collect()]:
        assert math.copysign(1.0, v) == 1.0, f"spark emitted -0.0: {v!r}"
    values = ", ".join(f"(CAST(0 AS BIGINT), CAST({t} AS BIGINT))" for _, t in rows)
    for (v,) in duckdb.sql(
        f"SELECT {_WILSON_LB_SQL} FROM (VALUES {values}) AS s(hits, trials)"
    ).fetchall():
        assert math.copysign(1.0, v) == 1.0, f"duckdb emitted -0.0: {v!r}"


@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=40)
)
@settings(**_SETTINGS)
def test_cusum_multiply_through_is_exact(spark, daily):
    """agg_cusum_changepoint's all-integer device: T_d = n·P_d − r_d·Σy
    satisfies T_d = n·S_d with S_d the float CUSUM Σ_(i<=d)(y_i − μ),
    so argmax|T| picks the same day as argmax|S| (earlier day on
    ties) for ANY daily series — the multiply-through never changes
    the answer, it only removes the division."""
    from fractions import Fraction

    n, sy = len(daily), sum(daily)
    # exact rational reference: S_d = P_d - (d+1)*sy/n
    best_ref, best_day = None, None
    p = 0
    for d, y in enumerate(daily):
        p += y
        s_abs = abs(Fraction(p) - Fraction((d + 1) * sy, n))
        if best_ref is None or s_abs > best_ref:
            best_ref, best_day = s_abs, d
    # integer device
    best_t, best_day_t = None, None
    p = 0
    for d, y in enumerate(daily):
        p += y
        t = abs(n * p - (d + 1) * sy)
        if best_t is None or t > best_t:
            best_t, best_day_t = t, d
    assert best_day_t == best_day
    assert best_t == best_ref * n


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=10**5),
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
@settings(**_SETTINGS)
def test_theil_sen_median_matches_reference(spark, pts):
    """agg_trend_theil_sen's shared interpolation-tree median over the
    pairwise-slope array equals a direct reference median of the same
    slopes (linear interpolation, the _pq_sql contract) for arbitrary
    integer daily series."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        _TS_SLOPE_SQL,
        _pq_sql,
    )

    rows = [
        (x1, y1, x2, y2)
        for (x1, y1) in pts
        for (x2, y2) in pts
        if x1 < x2
    ]
    df = spark.createDataFrame(rows, "x1 long, y1 long, x2 long, y2 long")
    got = (
        df.select(F.expr(_TS_SLOPE_SQL).alias("slope"))
        .agg(
            F.sort_array(F.collect_list("slope")).alias("arr"),
            F.count("*").alias("n"),
        )
        .select(F.expr(_pq_sql(0.5, "element_at")).alias("med"))
        .collect()[0]
        .med
    )
    slopes = sorted((y2 - y1) / (x2 - x1) for x1, y1, x2, y2 in rows)
    m = len(slopes)
    # linear interpolation at rank 0.5*(m-1), the _pq_sql contract
    lo = (m - 1) // 2
    if m % 2 == 1:
        want = slopes[lo]
    else:
        want = slopes[lo] + 0.5 * (slopes[lo + 1] - slopes[lo])
    # _pq_sql rounds to 6dp (HALF_UP); the reference is unrounded —
    # allow one half-grid-step at 6dp
    assert abs(got - want) <= 5.1e-7, (got, want)


@given(
    st.lists(st.integers(min_value=1, max_value=60), min_size=4, max_size=12)
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zipf_fit_ff_regression_matches_reference(spark, counts):
    """ext_zipf_fit's frequency-of-frequencies device end-to-end: for
    a PLANTED corpus with arbitrary term counts, the operator's
    (n_points, slope, intercept, r2) equal an independent Python
    recompute of the same milli-fixed-point ln regression — the
    ff-curve is derived from the planted counts, never from Spark.
    Degenerate ff-curves (all count-of-counts equal => zero y
    variance) must yield NULL r2, not a crash: the first run of this
    test found exactly that — ANSI mode turns the raw zero-variance
    division into a hard DIVIDE_BY_ZERO, fixed with nullif guards on
    both engines."""
    import math
    import os
    import tempfile
    from collections import Counter

    from hypothesis import assume

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    assume(len(set(counts)) >= 2)  # slope needs >= 2 distinct x

    toks = []
    for i, c in enumerate(counts):
        toks.extend([f"t{i:02d}"] * c)
    d = spark.createDataFrame(
        [(1, " ".join(toks), "en", "s", len(toks))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_zipf_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    out = queries()["ext_zipf_fit"](spark, tmp).collect()[0]

    # independent reference: ff-curve from the PLANTED counts, then
    # the identical milli-rounded fixed-point regression (HALF_UP
    # emulated as floor(v+0.5); ln(c), ln(f) >= 0 here)
    ff = Counter(counts)  # count -> number of types with that count
    pts = [
        (
            math.floor(math.log(c) * 1000 + 0.5),
            math.floor(math.log(f) * 1000 + 0.5),
        )
        for c, f in ff.items()
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    syy = sum(y * y for _, y in pts)
    num = float(n) * sxy - float(sx) * sy
    den = float(n) * sxx - float(sx) * sx
    deny = float(n) * syy - float(sy) * sy

    assert out.n_points == n
    assert abs(out.slope - num / den) <= 5.1e-7, (out.slope, num / den)
    want_icpt = (float(sy) - (num / den) * sx) / (n * 1000.0)
    assert abs(out.intercept - want_icpt) <= 5.1e-7, (out.intercept, want_icpt)
    if deny == 0.0:
        assert out.r2 is None, out.r2
    else:
        want_r2 = num * num / (den * deny)
        assert abs(out.r2 - want_r2) <= 5.1e-7, (out.r2, want_r2)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # day offset
            st.integers(min_value=-5, max_value=1_000_000),  # iv
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_drift_probe_matches_reference(spark, events):
    """agg_dist_drift_probe end-to-end on a PLANTED event stream: the
    all-integer KS-on-power-of-two-lattice device (bucket = bit length
    of floor(value), slice split at min-day + 15, micro-quantized CDF
    gap via integer division) must equal an independent Python
    recompute of the same spec — including the nb = 0 edge (every
    event inside the split window) where the probe is NULL and the
    flag is pinned false, the exact ANSI DIVIDE_BY_ZERO edge the r7
    degenerate-input sweep found."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        queries,
    )

    base = dt.datetime(2024, 1, 1, 1, 0, 0)
    rows = [
        (
            i + 1,
            base + dt.timedelta(days=day),
            i % 5 + 1,
            "view",
            iv + 0.25,  # floor(value) == iv for any integer iv
            '{"k":1}',
        )
        for i, (day, iv) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_drift_")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet")
    )
    out = queries()["agg_dist_drift_probe"](spark, tmp).collect()[0]

    # independent reference, all-integer exactly as specified
    day_nums = [int((base + dt.timedelta(days=day)).timestamp()) // 86400
                for day, _ in events]
    d0 = min(day_nums)
    buckets_a, buckets_b = [], []
    for (day, iv), dn in zip(events, day_nums):
        b = 0 if iv <= 0 else iv.bit_length()
        (buckets_a if dn < d0 + 15 else buckets_b).append(b)
    na, nb = len(buckets_a), len(buckets_b)
    assert out.n_slice_a == na and out.n_slice_b == nb
    if na == 0 or nb == 0:
        assert out.ks_probe_micro is None
        assert out.drift_flag is False
        return
    lattice = sorted(set(buckets_a + buckets_b))
    fa = fb = 0
    d_micro = 0
    for b in lattice:
        fa += buckets_a.count(b)
        fb += buckets_b.count(b)
        d_micro = max(d_micro, abs(fa * 1_000_000 // na - fb * 1_000_000 // nb))
    assert out.ks_probe_micro == d_micro, (out.ks_probe_micro, d_micro)
    assert out.drift_flag == (d_micro >= 100_000)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_markov_entropy_matches_reference(spark, events):
    """agg_markov_entropy end-to-end on a PLANTED event stream: the
    per-cell micro-fixed-point entropy terms (round-once-then-BIGINT-
    sum device) must reproduce an independent Python recompute of
    H = Σ_st (c_st/N)·ln(c_s/c_st) — including streams with zero
    transitions (every user a single event), where the rollup row
    must still be well-defined on both engines."""
    import datetime as dt
    import math
    import os
    import tempfile
    from collections import Counter, defaultdict

    from hypothesis import assume

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        queries,
    )

    # at least one user with >= 2 events so a transition exists (the
    # zero-transition edge is covered by the degenerate sweep; here
    # the reference needs a non-empty term sum)
    assume(max(Counter(u for u, _ in events).values()) >= 2)

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i + 1, base + dt.timedelta(minutes=i), u, t, 1.0, "{}")
        for i, (u, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_markov_")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet")
    )
    out = queries()["agg_markov_entropy"](spark, tmp).collect()[0]

    # independent reference: transitions in (ts, event_id) order per
    # user; micro-rounded term per cell; integer sum; one final round
    per_user = defaultdict(list)
    for i, (u, t) in enumerate(events):
        per_user[u].append(t)  # minutes increase with i => already ordered
    cells = Counter()
    for seq in per_user.values():
        for s, t in zip(seq, seq[1:]):
            cells[(s, t)] += 1
    row_sums = Counter()
    for (s, _), c in cells.items():
        row_sums[s] += c
    n_transitions = sum(cells.values())
    tsum = 0
    for (s, _), c in cells.items():
        v = math.log(row_sums[s] / c) * c * 1_000_000
        tsum += int(math.floor(v + 0.5))  # HALF_UP like both engines
    assert out.n_states == len(row_sums)
    assert out.n_cells == len(cells)
    assert out.n_transitions == n_transitions
    h = tsum / (n_transitions * 1_000_000)
    assert abs(out.entropy_nats - h) <= 5.1e-7, (out.entropy_nats, h)
    assert abs(out.perplexity - math.exp(h)) <= 5.1e-7


@given(
    st.lists(
        st.lists(st.sampled_from([f"w{i}" for i in range(12)]),
                 min_size=1, max_size=8),
        min_size=20,
        max_size=24,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tfidf_cosine_pairs_matches_reference(spark, docs):
    """ext_tfidf_cosine_pairs end-to-end on a PLANTED corpus: the
    rare-term blocking set (df * RARE_DF_FACTOR <= N), the candidate
    pair set, shared_terms, and the milli-fixed-point TF-IDF cosine
    must all equal an independent Python recompute. Two docs get a
    planted unique token (df=2, rare at N>=20) so the candidate set
    is non-vacuous in every example. Also re-proves the implicit
    zero-norm safety argument: a doc enters a pair only through a
    rare term, whose weight ln(N/df) >= ln(10) > 0, so norms in the
    final division are never zero."""
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        RARE_DF_FACTOR,
    )

    docs = [list(t) for t in docs]
    docs[0].append("zzrare")
    docs[1].append("zzrare")
    rows = [
        (i + 1, " ".join(toks), "en", "s0", len(" ".join(toks)))
        for i, toks in enumerate(docs)
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_tfidf_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cos)
        for r in queries()["ext_tfidf_cosine_pairs"](spark, tmp).collect()
    }

    # independent reference from the planted token lists
    n = len(docs)
    tf = {}
    for i, toks in enumerate(docs):
        for t in toks:
            tf[(i + 1, t)] = tf.get((i + 1, t), 0) + 1
    df = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    # weight: round-HALF-UP(tf * ln(N/df) * 1000) into int millis;
    # ln(N/df) >= 0 always, so floor(v + 0.5) emulates Spark's round
    wm = {
        (doc, t): math.floor(c * math.log(n / df[t]) * 1000.0 + 0.5)
        for (doc, t), c in tf.items()
    }
    nrm = {}
    for (doc, t), v in wm.items():
        nrm[doc] = nrm.get(doc, 0) + v * v
    rare = {t for t, c in df.items() if c * RARE_DF_FACTOR <= n}
    cand = set()
    for t in rare:
        members = sorted(doc for (doc, tt) in tf if tt == t)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    want = {}
    for a, b in cand:
        shared = [t for (doc, t) in tf if doc == a and (b, t) in tf]
        dot = sum(wm[(a, t)] * wm[(b, t)] for t in shared)
        cos = dot / (math.sqrt(float(nrm[a])) * math.sqrt(float(nrm[b])))
        want[(a, b)] = (len(shared), cos)

    assert set(got) == set(want), (set(got) ^ set(want))
    for pair, (st_, cos) in want.items():
        assert got[pair][0] == st_, (pair, got[pair], st_)
        assert abs(got[pair][1] - cos) <= 2e-6, (pair, got[pair][1], cos)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "buy"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quantile_sketch_rank_band_certificate(spark, pts):
    """agg_quantile_sketch_audit on PLANTED per-group value multisets
    (r7 verdict item 6): exact p50/p95 must equal an independent
    Python recompute of the shared _pq_sql interpolation tree, and
    the rank-band certificate (ok50/ok95) must hold for EVERY group
    size — including the tiny spread-out groups that break a
    value-interpolated band (the r6 finding the rank-band form
    fixed). Values are integers-as-doubles so the interpolation
    arithmetic is bit-exact between Python and JVM doubles."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, et, float(v), None)
        for i, (et, v) in enumerate(pts)
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_qsk_")
    e.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet")
    )
    out = {
        r.event_type: r
        for r in queries()["agg_quantile_sketch_audit"](spark, tmp).collect()
    }

    groups = {}
    for et, v in pts:
        groups.setdefault(et, []).append(float(v))

    def pq_ref(q, arr):
        n = len(arr)
        pos = q * (n - 1)
        lo = math.floor(pos)
        e1 = arr[int(lo)]
        e2 = arr[int(min(lo + 1, n - 1))]
        v = e1 + (e2 - e1) * (pos - lo)
        # Spark round(x, 6) = BigDecimal HALF_UP on the double
        return math.floor(v * 1e6 + 0.5) / 1e6 if v >= 0 else -math.floor(-v * 1e6 + 0.5) / 1e6

    assert set(out) == set(groups)
    for et, arr in groups.items():
        arr = sorted(arr)
        r = out[et]
        assert abs(r.p50 - pq_ref(0.5, arr)) <= 1e-9, (et, r.p50, pq_ref(0.5, arr))
        assert abs(r.p95 - pq_ref(0.95, arr)) <= 1e-9, (et, r.p95, pq_ref(0.95, arr))
        assert r.ok50 is True, (et, arr)
        assert r.ok95 is True, (et, arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),    # user_id
            st.integers(min_value=0, max_value=12),   # day offset
            st.integers(min_value=0, max_value=23),   # hour within day
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_survival_curve_matches_reference(spark, evs):
    """agg_survival_curve end-to-end on PLANTED per-user event streams
    (r8 window head-freshness): per-user lifetime = capped
    last-minus-first EPOCH DAY (integer-day contract), and for every
    k the surviving count and rounded share must equal an independent
    Python recompute. Hours within a day are planted too, proving the
    span really is day-granular (two events 23h apart on the same
    UTC day = lifetime 0)."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        SURVIVAL_MAX_DAYS,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (i + 1, t0 + dt.timedelta(days=d, hours=h), u, "view", 1.0, None)
        for i, (u, d, h) in enumerate(evs)
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_surv_")
    e.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet")
    )
    got = {
        r.k_days: (r.n_surviving, r.share)
        for r in queries()["agg_survival_curve"](spark, tmp).collect()
    }

    base_day = (t0 - dt.datetime(1970, 1, 1)).days
    spans = {}
    for u, d, h in evs:
        lo, hi = spans.get(u, (10**9, -(10**9)))
        spans[u] = (min(lo, base_day + d), max(hi, base_day + d))
    lifetimes = [min(hi - lo, SURVIVAL_MAX_DAYS) for lo, hi in spans.values()]
    n_users = len(lifetimes)
    want = {}
    for k in range(0, max(lifetimes) + 1):
        n = sum(1 for lt in lifetimes if lt >= k)
        want[k] = (n, math.floor(n * 1.0 / n_users * 1e6 + 0.5) / 1e6)

    assert got == want, (got, want)


@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=26),
        min_size=1,
        max_size=10,
    ),
    st.data(),
)
@settings(**_SETTINGS)
def test_substr_spans_match_interval_union_reference(spark, token_docs, data):
    """ext_dedup_substr_spans (r9) must equal an independent Python
    recompute of ExactSubstr coverage: corpus-total L-gram counts,
    >=2-occurrence positions, and the maximal-interval union — over a
    2-letter alphabet so duplicated 8-grams actually arise, plus one
    hypothesis-chosen doc duplicated verbatim (guaranteeing cross-doc
    repeats) and short docs (< L tokens => zero spans, zero-filled)."""
    import os
    import tempfile
    from collections import Counter

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    L = 8
    # plant a verbatim duplicate of one doc when any doc is long enough
    docs = {i: list(t) for i, t in enumerate(token_docs)}
    longs = [i for i, t in docs.items() if len(t) >= L]
    if longs:
        src = data.draw(st.sampled_from(longs))
        docs[len(docs)] = list(docs[src])

    grams = Counter()
    for toks in docs.values():
        for p in range(len(toks) - L + 1):
            grams[tuple(toks[p : p + L])] += 1
    expect = {}
    for did, toks in docs.items():
        ps = [
            p
            for p in range(len(toks) - L + 1)
            if grams[tuple(toks[p : p + L])] >= 2
        ]
        spans = []
        for p in ps:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + L - 1)
            else:
                spans.append([p, p + L - 1])
        dup = sum(e - s + 1 for s, e in spans)
        longest = max((e - s + 1 for s, e in spans), default=0)
        expect[did] = (len(toks), len(spans), dup, longest)

    rows = [(did, " ".join(toks), "en", "s", len(" ".join(toks)))
            for did, toks in docs.items()]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_substr_prop_")
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.longest_span, r.dup_frac)
        for r in queries()["ext_dedup_substr_spans"](spark, tmp).collect()
    }
    assert set(got) == set(expect)
    for did, (n_tok, n_spans, dup, longest) in expect.items():
        g = got[did]
        # the empty-token-list doc serializes to '' which splits to
        # one empty token — mirror that seam the way both engines see it
        n_tok_engine = max(n_tok, 1)
        assert g[:4] == (n_tok_engine, n_spans, dup, longest), (
            did, g, (n_tok_engine, n_spans, dup, longest))
        want_frac = dup / n_tok_engine if n_tok_engine else 0.0
        assert abs(g[4] - want_frac) < 1e-6, (did, g[4], want_frac)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["view", "click", None]),          # event_type
            st.one_of(st.none(), st.integers(min_value=0, max_value=43200)),
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_asof_trio_null_semantics_cross_engine_and_reference(spark, evs):
    """r8-device property pin (r8 verdict item 6): the union-and-window
    as-of carry vs DuckDB's native ASOF JOIN, under hypothesis-chosen
    NULL keys, NULL times, and NULL values. NULL (key, time) rows must
    drop on both engines (the r8 pin), and — the r9 find this test
    forced — a snapshot bucket whose values are ALL NULL must still be
    the as-of match (one struct carry; split ts/max carries stitched a
    row matching neither engine). All three variants run the full
    driver-replica compare on the generated fixture, and join_asof is
    additionally checked against a sequential Python recompute."""
    import datetime as dt
    import os
    import sys
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, TOOLS_DIR)
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        oracles,
        queries,
    )

    # planted boundary in EVERY example (hypothesis may shrink the
    # random part away): bucket 0 of 'plant' has max 5.0, bucket 1 is
    # ALL-NULL-valued — its event must match (bucket-1 ts, NULL max),
    # not carry 5.0 forward and not stitch bucket-1 ts with bucket-0 max
    evs = list(evs) + [("plant", 100, 5), ("plant", 21700, None)]
    rows = [
        (i, None if off is None else off, k, None if v is None else float(v))
        for i, (k, off, v) in enumerate(evs)
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [
                    None
                    if r[1] is None
                    else dt.datetime(2024, 1, 1) + dt.timedelta(seconds=r[1])
                    for r in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([0] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    fixture = tempfile.mkdtemp(prefix="smdp_asof_prop_")
    pq.write_table(t, os.path.join(fixture, "events.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{fixture}/events.parquet'"
    )
    qs, os_ = queries(), oracles()
    for name in ("join_asof", "join_asof_nearest", "join_asof_tolerance"):
        problems = compare_query(spark, con, qs[name], os_[name], fixture)
        assert not problems, (name, problems)

    # independent sequential reference for join_asof
    base = dt.datetime(2024, 1, 1)
    live = [
        (r[0], r[2], int((base + dt.timedelta(seconds=r[1]) - dt.datetime(1970, 1, 1)).total_seconds()), r[3])
        for r in rows
        if r[1] is not None and r[2] is not None
    ]
    snaps = {}
    for _, k, ts_s, v in live:
        b = ts_s // 21600 * 21600
        snaps.setdefault((k, b), []).append(v)
    expect = {}
    for eid, k, ts_s, _ in live:
        b = ts_s // 21600 * 21600  # own bucket is always the latest <= ts
        vals = [v for v in snaps[(k, b)] if v is not None]
        expect[eid] = (b, max(vals) if vals else None)
    got = {
        r.event_id: (r.snap_s, r.snap_max)
        for r in qs["join_asof"](spark, fixture)
        .selectExpr("event_id", "CAST(snap_ts AS LONG) AS snap_s", "snap_max")
        .collect()
    }
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["view", "click", None]),           # event_type
            st.one_of(st.none(),
                      st.integers(min_value=0, max_value=12)),  # day offset
            st.integers(min_value=1, max_value=4),              # multiplicity
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_ewma_recurrence_matches_reference_with_null_keys(spark, groups):
    """r8-device property pin (r8 verdict item 6): agg_ewma_volume's
    fixed-point recurrence under hypothesis-chosen day gaps,
    duplicate-day multiplicities, and NULL (event_type, ts) rows —
    which the r8 pin excludes on both engines (a recursive SQL chain
    cannot extend a NULL-key partition: NULL = NULL join). Runs the
    full driver-replica cross-engine compare on the generated fixture
    AND an independent integer-recurrence recompute."""
    import datetime as dt
    import os
    import sys
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, TOOLS_DIR)
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        EWMA_ALPHA_PCT,
        EWMA_MICRO,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        oracles,
        queries,
    )

    rows = []
    for k, day, mult in groups:
        for _ in range(mult):
            rows.append((k, day))
    t = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    None
                    if d is None
                    else dt.datetime(2024, 3, 1, 12) + dt.timedelta(days=d)
                    for _, d in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([0] * len(rows), pa.int64()),
            "event_type": pa.array([k for k, _ in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    fixture = tempfile.mkdtemp(prefix="smdp_ewma_prop_")
    pq.write_table(t, os.path.join(fixture, "events.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{fixture}/events.parquet'")
    qs, os_ = queries(), oracles()
    problems = compare_query(
        spark, con, qs["agg_ewma_volume"], os_["agg_ewma_volume"], fixture
    )
    assert not problems, problems

    # independent integer recurrence
    daily = {}
    for k, d in rows:
        if k is None or d is None:
            continue
        daily.setdefault(k, {}).setdefault(d, 0)
        daily[k][d] += 1
    expect = {}
    for k, series in daily.items():
        s = 0
        for i, d in enumerate(sorted(series)):
            n = series[d]
            if i == 0:
                s = n * EWMA_MICRO
            else:
                s = (EWMA_ALPHA_PCT * n * EWMA_MICRO
                     + (100 - EWMA_ALPHA_PCT) * s) // 100
            expect[(k, d)] = (n, s)
    base = dt.date(2024, 3, 1)
    got = {
        (r.event_type, (r.day - base).days): (r.n, r.ewma_micros)
        for r in qs["agg_ewma_volume"](spark, fixture).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.integers(min_value=-3 * 86400, max_value=4102444800),  # ~2100
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_epoch_day_bucketing_matches_floor_division_both_engines(spark, epochs):
    """r8-device property pin (r8 verdict item 6, the TZ/DST device):
    under the engine contract (session timeZone pinned UTC, tz-naive
    timestamps) day bucketing via date_trunc('day', ts) must equal
    pure epoch floor-division — for ANY instant, including the US DST
    gap/fold wallclocks (planted) and pre-1970 epochs (negative floor
    division). Checked on Spark AND DuckDB per example; the
    subprocess TZ pin (test_registry) proves host-TZ independence,
    this proves the ARITHMETIC over the input space."""
    import datetime as dt

    import duckdb

    # plant the 2024 US transition instants: spring-forward gap
    # (2024-03-10 07:00Z) and fall-back fold pair (2024-11-03 05:30Z
    # and 06:30Z share the 01:30 EST/EDT wallclock)
    epochs = sorted(set(epochs) | {1710054000, 1730611800, 1730615400})
    df = spark.createDataFrame([(e,) for e in epochs], "epoch long")
    got = {
        r.epoch: (r.day, r.day_floor)
        for r in df.selectExpr(
            "epoch",
            "to_date(date_trunc('day', timestamp_seconds(epoch))) AS day",
            "CAST(floor(epoch / 86400.0) AS LONG) AS day_floor",
        ).collect()
    }
    con = duckdb.connect()
    for e in epochs:
        want_day_num = e // 86400  # python floor division, exact
        want_date = dt.date(1970, 1, 1) + dt.timedelta(days=want_day_num)
        day, day_floor = got[e]
        assert day == want_date, (e, day, want_date)
        assert day_floor == want_day_num, (e, day_floor, want_day_num)
        (ddb_date, ddb_floor) = con.sql(
            f"SELECT CAST(date_trunc('day', to_timestamp({e})) AS DATE), "
            f"CAST(floor({e} / 86400.0) AS BIGINT)"
        ).fetchone()
        assert ddb_date == want_date, (e, ddb_date, want_date)
        assert ddb_floor == want_day_num, (e, ddb_floor)


@given(
    st.lists(
        st.sampled_from([1, 2, 3, 4, 7, 12]), min_size=1, max_size=60
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tail_hill_nano_sum_matches_reference_across_tie_patterns(
    spark, counts
):
    """agg_tail_hill (r9) vs an independent Python replica across
    arbitrary TIE patterns (r9 verdict item 5): counts drawn from a
    small value set force ties at and across the rank-(k+1) cut, the
    exact case where the (c DESC, user_id) total order and the
    round-once-to-nano-BIGINT sum must agree between engines. Also
    pins the <2-users empty contract and the all-tied NULL-alpha
    guard. The sampled value set keeps the ln() argument domain
    finite, so the floor(x*1e9+0.5) knife-edge is deterministic."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        HILL_K,
        agg_tail_hill,
    )

    rows = []
    eid = 0
    for u, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, dt.datetime(2023, 1, 5), u, "post", 1.0, "{}"))
            eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_hillprop_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    got = agg_tail_hill(spark, tmp).collect()

    n = len(counts)
    if n < 2:
        assert got == []
        return
    ordered = sorted(
        ((u, c) for u, c in enumerate(counts, start=1)),
        key=lambda kv: (-kv[1], kv[0]),
    )
    k = min(HILL_K, n - 1)
    c_cut = ordered[k][1]
    s_nano = sum(
        math.floor(math.log(c / c_cut) * 1e9 + 0.5) for _, c in ordered[:k]
    )
    (r,) = got
    assert r.n_users == n and r.k == k and r.c_cut == c_cut
    assert r.hill_mean == round(s_nano / (k * 1e9), 6)
    if s_nano == 0:
        assert r.alpha is None
    else:
        assert r.alpha == round(k * 1e9 / s_nano, 6)


@given(
    st.lists(
        st.lists(
            st.sampled_from([-1.0, 0.0, 1.0, 2.0]), min_size=8, max_size=8
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pq_codebook_argmin_tiebreak_matches_reference(spark, vecs):
    """ext_emb_pq_codebook (r9) vs an independent Python replica of
    the full chain (absmax int8 quantize -> sub-vector slice -> exact
    integer SSE argmin with enc = sse*K + cid tie-break) under heavy
    TIES (r9 verdict item 5): the tiny component value set makes
    duplicate sub-vectors and duplicate SEEDS common, so the
    lowest-centroid-id tie rule decides most assignments — any
    min_by-style ambiguity or a wrong enc encoding diverges
    immediately. Covers n < K corpora (codebook smaller than K) and
    all-zero vectors (amax = 0 -> zero codes)."""
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        ext_emb_pq_codebook,
    )

    rows = [(vid, v, 0) for vid, v in enumerate(vecs)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pqprop_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {
        (r.subspace, r.centroid): (r.n_assigned, r.sse_sum)
        for r in ext_emb_pq_codebook(spark, tmp).collect()
    }

    def _codes(v):
        amax = max(abs(x) for x in v)
        if amax == 0.0:
            return [0] * len(v)
        s = amax / 127.0
        return [
            max(-127, min(127, math.floor(x / s + 0.5))) for x in v
        ]

    codes = {vid: _codes(v) for vid, v in enumerate(vecs)}
    ds = 8 // PQ_M
    seeds = [codes[vid] for vid in sorted(codes)[:PQ_K]]
    expect = {}
    for vid, c in codes.items():
        for sp in range(PQ_M):
            sub = c[sp * ds : (sp + 1) * ds]
            best = min(
                (
                    sum(
                        (a - b) ** 2
                        for a, b in zip(
                            sub, seeds[cid][sp * ds : (sp + 1) * ds]
                        )
                    ),
                    cid,
                )
                for cid in range(len(seeds))
            )
            key = (sp, best[1])
            n, sse = expect.get(key, (0, 0))
            expect[key] = (n + 1, sse + best[0])
    assert out == expect


# --------------------------------------------------------------------------
# source-keyed memo invalidation: the memo seam is correctness-critical
# cache logic — prove that file-layout mutations recompute and identical
# layouts reuse

_pin_ops = st.lists(
    st.sampled_from(["noop", "append", "append_nested", "delete", "rewrite"]),
    min_size=1,
    max_size=6,
)


@given(_pin_ops)
@settings(**_SETTINGS)
def test_session_pin_recompute_vs_reuse(spark, tmp_path_factory, ops):
    """`session_pin`, `load` and the IVF model are keyed by the
    recursive source fingerprint: each rebuilds exactly when the
    current file layout differs from the LIVE entry's layout, and
    reuses the entry when the layout is unchanged. Building under a
    NEW layout drops the entry built under the old one, so each store
    holds one key per tag, under the current fingerprint, and a
    delete that RESTORES an earlier layout rebuilds rather than
    reusing: the old frame's partitions could have been
    lineage-recomputed under the interim layout (executor block loss
    re-reads the source), and serving it after a restore would
    silently mix interim data into an exactness-contract frame.
    Mutations exercised: append (top-level AND nested — a
    non-recursive fingerprint misses the nested one), delete, and an
    mtime-preserving rewrite that changes the file size. The load and
    IVF builds are stubbed: the key rule, not the scan or the
    training, is under test."""
    import os
    import shutil
    from unittest import mock

    from social_media_data_pipeline_recession_political_sentiment_spark import catalog
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import (
        similarity,
    )

    sf_dir = str(tmp_path_factory.mktemp("pin_sf"))
    real = os.path.realpath(sf_dir)
    src = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(src)
    os.symlink(src, os.path.join(sf_dir, "embeddings.parquet"))  # the IVF source
    with open(os.path.join(src, "part-0"), "wb") as f:
        f.write(b"x" * 8)

    builds = {"pin": 0, "load": 0, "ivf": 0}

    def build():
        builds["pin"] += 1
        return spark.range(3)

    def load_build(*_):
        builds["load"] += 1
        return spark.range(1)

    def ivf_train(_e):
        builds["ivf"] += 1
        return object()

    tag = f"pin_prop_{id(ops)}"
    stores = (
        (catalog._SESSION_PINS, tag),
        (catalog._LOAD_MEMO, "documents"),
        (similarity._IVF_MODEL_MEMO, "ivf_model"),
    )

    def call_all():
        catalog.session_pin(spark, sf_dir, tag, build)
        catalog.load(spark, sf_dir, "documents")
        similarity._ivf_model(spark, sf_dir, None)

    catalog.clear_session_pins()
    mock.patch.object(catalog, "_load_build", load_build).start()
    mock.patch.object(similarity, "_ivf_train", ivf_train).start()
    try:
        call_all()
        assert builds == {"pin": 1, "load": 1, "ivf": 1}  # cold build
        call_all()
        assert builds == {"pin": 1, "load": 1, "ivf": 1}  # warm reuse
        live = catalog.source_fingerprint(src)  # the LIVE entries' layout
        n_extra = 0  # files added beyond part-0 (delete candidates)
        for i, op in enumerate(ops):
            before = builds["pin"]
            if op == "append":
                with open(os.path.join(src, f"part-a{i}"), "wb") as f:
                    f.write(b"y" * (i + 1))
                n_extra += 1
            elif op == "append_nested":
                sub = os.path.join(src, f"bucket={i}")
                os.makedirs(sub, exist_ok=True)
                with open(os.path.join(sub, "part-n"), "wb") as f:
                    f.write(b"z" * (i + 1))
                n_extra += 1
            elif op == "delete" and n_extra:
                for root, _, files in os.walk(src):
                    victim = [n for n in files if n != "part-0"]
                    if victim:
                        os.remove(os.path.join(root, victim[0]))
                        n_extra -= 1
                        break
            elif op == "rewrite":
                p = os.path.join(src, "part-0")
                st_ = os.stat(p)
                with open(p, "wb") as f:  # grow by one byte...
                    f.write(b"x" * (st_.st_size + 1))
                os.utime(p, ns=(st_.st_atime_ns, st_.st_mtime_ns))  # ...same mtime
            fp = catalog.source_fingerprint(src)
            fresh = fp != live
            live = fp
            call_all()
            want = before + 1 if fresh else before
            assert builds == {"pin": want, "load": want, "ivf": want}, (
                f"{op}: rebuild iff the layout differs from the live entry's"
            )
            # the superseded entries are gone — one live key per tag
            for store, t in stores:
                assert [k[3] for k in store if k[1:3] == (t, real)] == [fp]
            # invariant: a second immediate call never rebuilds
            call_all()
            assert builds == {"pin": want, "load": want, "ivf": want}
    finally:
        mock.patch.stopall()
        catalog.clear_session_pins()
        shutil.rmtree(sf_dir, ignore_errors=True)


def test_session_pin_failure_stores_nothing_and_clear_releases(spark, tmp_path):
    """A build that raises must store no memo entry (the next call
    retries from scratch — the r10-ADVICE 'broken frame served
    forever' failure mode), and clear_session_pins() releases
    storage without breaking later rebuilds."""
    import os

    from social_media_data_pipeline_recession_political_sentiment_spark import catalog

    sf_dir = str(tmp_path)
    src = os.path.join(sf_dir, "documents.parquet")
    with open(src, "wb") as f:
        f.write(b"q" * 16)

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("executor lost")
        return spark.range(2)

    catalog.clear_session_pins()
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            catalog.session_pin(spark, sf_dir, "flaky", flaky)
        df = catalog.session_pin(spark, sf_dir, "flaky", flaky)
        assert len(calls) == 2 and df.count() == 2
        catalog.session_pin(spark, sf_dir, "flaky", flaky)
        assert len(calls) == 2  # pinned now
        catalog.clear_session_pins()
        assert not catalog._SESSION_PINS
        df2 = catalog.session_pin(spark, sf_dir, "flaky", flaky)
        assert len(calls) == 3 and df2.count() == 2  # rebuilt cleanly
    finally:
        catalog.clear_session_pins()


def test_source_fingerprint_recursive_and_unstatable(tmp_path):
    """Fingerprint folds nested files (recursion), per-file identity
    (not a lexicographic max), and file COUNT; an unstatable path
    fingerprints to None (=> never pinned)."""
    import os

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import (
        source_fingerprint,
    )

    d = tmp_path / "t.parquet"
    os.makedirs(d / "k=1")
    (d / "part-0").write_bytes(b"a" * 4)
    (d / "k=1" / "part-1").write_bytes(b"b" * 4)
    fp1 = source_fingerprint(str(d))
    assert fp1 is not None and fp1[0] == 2

    # nested mutation changes the digest (the non-recursive max missed this
    # when the nested file wasn't the lexicographic/mtime max)
    (d / "k=1" / "part-1").write_bytes(b"b" * 5)
    fp2 = source_fingerprint(str(d))
    assert fp2 != fp1 and fp2[0] == 2

    # same layout -> same fingerprint (stat-stable)
    assert source_fingerprint(str(d)) == fp2

    assert source_fingerprint(str(tmp_path / "missing.parquet")) is None


def test_session_pin_no_eviction_full_single_sf_sweep(spark):
    """Cap audit (r11 verdict item 7, extended for the r13/r14
    optimization passes' pin inventory): one representative query per
    pin tag family, all at ONE sf_dir, must complete with ZERO FIFO
    evictions and exactly the twenty-eight live tag families pinned —
    mid-gate thrash (evicting a hot pin that a later query rebuilds)
    would silently multiply the dominant mining cost without failing
    anything. The r14 pin-economics pass (verdict r13 item 2) DROPPED
    the four single-consumer pins (lp_components, phash_lss,
    ivf_cand_all, sim_lsh_fin_cand), converted embcos_lsh_lss to a
    within-invocation compute_once, and added bi_doc_stream (census
    build + LM bigram scoring) — this set also locks that no dropped
    tag quietly comes back."""
    from conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark import (
        catalog,
        registry,
    )

    registry.load_all()
    catalog.clear_session_pins()
    catalog._EVICTIONS.clear()
    try:
        for q in (
            "udtf_explode_shingles",  # shingles
            "ext_dedup_ngram_jaccard",  # jaccard_pairs + shingle_inter/sizes (r13)
            "ext_dedup_minhash",  # mh_cand + mh_signatures (r13)
            "ext_dedup_components_lss",  # lss_components
            "ext_dedup_components",  # consumes jaccard_pairs (pin dropped r14)
            "ext_dedup_pipeline",  # pipeline_comp (r13)
            "ext_dedup_pipeline_minhash",  # pipeline_mh_comp (r13)
            "ext_dedup_embcos",  # embcos_pairs
            "ext_dedup_embcos_lsh",  # embcos_lsh_pairs
            "ext_dedup_semantic",  # embcos_lss (r13)
            "ext_dedup_embcos_pipeline_recall",  # embcos_lss + compute_once LSH arm (r14)
            "ext_sim_topk",  # sim_topk (r13)
            "ext_sim_topk_int8",  # sim_int8_topk (r13)
            "ext_sim_topk_bitsign",  # sim_bitsign_topk (r13)
            "ext_emb_topk_pq",  # sim_pq_topk (r13)
            "ext_emb_gram_int8",  # emb_gram (r13)
            "ext_sim_ivf",  # ivf_cand (r13)
            "ext_sim_ivf_exhaustive",  # unpinned build (pin dropped r14)
            "ext_sim_lsh",  # unpinned mine (pin dropped r14)
            "ext_sim_lsh_verify",  # sim_lsh_nn_cand (r13)
            "ext_sim_hamming_components",  # hamming_pairs + hamming_lss (r13)
            "ext_lm_unigram_score",  # lm_doc_scores (r13)
            "ext_bpe_learn_steps",  # bpe_merges (r13)
            "ext_bigram_pmi",  # bigram_census (r13) + bi_doc_stream (r14)
            "ext_bm25_topk",  # bm25_scored (r13)
            "ext_hybrid_rank_fusion",  # fusion_arms (r13)
            "ext_mm_dedup_phash",  # phash_pairs (r13)
            "ext_mm_phash_cluster",  # consumes phash_pairs (pin dropped r14)
        ):
            registry.QUERIES[q](spark, SF_SMOKE).collect()
        assert catalog._EVICTIONS == [], (
            "FIFO eviction during a single-sf_dir sweep — bump "
            "_SESSION_PIN_CAP (a new tag family outgrew the cap audit)"
        )
        tags = {k[1] for k in catalog._SESSION_PINS}
        assert tags == {
            "shingles",
            "shingle_inter",
            "shingle_sizes",
            "jaccard_pairs",
            "mh_signatures",
            "mh_cand",
            "lss_components",
            "pipeline_comp",
            "pipeline_mh_comp",
            "embcos_pairs",
            "embcos_lsh_pairs",
            "embcos_lss",
            "sim_topk",
            "sim_int8_topk",
            "sim_bitsign_topk",
            "sim_pq_topk",
            "emb_gram",
            "ivf_cand",
            "sim_lsh_nn_cand",
            "hamming_pairs",
            "hamming_lss",
            "lm_doc_scores",
            "bpe_merges",
            "bi_doc_stream",
            "bigram_census",
            "bm25_scored",
            "fusion_arms",
            "phash_pairs",
        }
        # headroom: 3 concurrently-live sf_dirs of every family fit
        assert 3 * len(tags) <= catalog._SESSION_PIN_CAP
    finally:
        catalog.clear_session_pins()
