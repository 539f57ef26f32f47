"""Deduplication operators (SURVEY §2.10 EXT tier): exact, MinHash-LSH,
SimHash, and exact n-gram Jaccard — the operations a training-data
pipeline runs over a 100 TB document corpus.

Scale design notes:
- Exact dedup groups by a 256-bit content hash, not the text itself:
  the shuffle moves 32-byte keys instead of multi-KB documents.
- MinHash: signatures are built with per-doc array expressions (one
  explode + one groupBy = one shuffle); candidate generation is an
  equi-join on (band, band_hash) — the standard LSH band trick that
  replaces the O(n^2) pair space with collisions only.
- SimHash: one explode + one aggregation; the 32 per-bit counters are
  columns, so the whole signature is computed in a single hash-agg
  pass, JVM-side.
- n-gram Jaccard is exact and quadratic in colliding pairs — it is
  the *verifier* run after LSH candidate generation, never the
  first-pass algorithm at scale.

The reference has no dedup beyond the per-row INSERT existence probe
(`Data Collection/Reddit.py:75-80` — covered by `join_anti_dedup`);
these operators are the north-star extension grounded in the
`documents` testdata table.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import compute_once, literal_frame, load, session_pin
from ..functions.hashing import (
    content_fp,
    content_fp_sql,
    doc_bucket,
    doc_bucket_sql,
)
from ..registry import register

N_MINHASH = 16
N_BANDS = 4  # 4 rows/band
SIMHASH_BITS = 32
SHINGLE_K = 3  # word 3-grams
JACCARD_THRESHOLD = 0.05


def _tokens(col):
    return F.split(col, " ")


def _load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan rebalanced across cores. At production scale the
    parquet scan yields one partition per ~128MB split and this is a
    cheap round-robin rebalance; at test SF the table is a single
    small file, and without the rebalance every CPU-heavy stage
    downstream (shingling, hashing) runs on one task."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.repartition(spark.sparkContext.defaultParallelism)


def gram_array_expr(k: int, distinct: bool = False, arr: str = "tk") -> str:
    """THE word-k-gram array builder (SQL-expression string over a
    pre-split token array column). Every gram-based operator —
    shingles, dup-span, Gopher repetition, source overlap, split
    leakage — derives from this one device so the subtle parts live
    once:
    - 1-based sequence / 0-based indexing: `arr[i + (o-1)]` with
      o in range(k) shifts the 1-based sequence index down;
    - the short-doc guard is load-bearing: sequence(1, n-k+1) with
      n < k produces a DESCENDING sequence (Spark's sequence
      auto-negates the step), which under ANSI array indexing
      throws; DuckDB's range() returns empty for the same bounds.
      Guard to empty explicitly so both engines agree: < k tokens
      => no k-grams.
    Direct array indexing is ~4x faster than a slice()-per-gram HOF,
    which re-splits and allocates a sub-array per element."""
    idx = ", ".join(f"{arr}[i + ({o - 1})]" for o in range(k))
    body = (
        f"transform(sequence(1, size({arr}) - {k - 1}), "
        f"i -> concat_ws(' ', {idx}))"
    )
    if distinct:
        body = f"array_distinct({body})"
    return f"CASE WHEN size({arr}) >= {k} THEN {body} ELSE array() END"


def _with_shingles(df: DataFrame, out: str = "sh") -> DataFrame:
    """Add a distinct word-k-gram array column (the UDTF-free shingle
    explode: SURVEY §2.8 `udtf_explode_shingles`)."""
    return df.withColumn("tk", _tokens(F.col("text"))).withColumn(
        out, F.expr(gram_array_expr(SHINGLE_K, distinct=True))
    )


@register(
    "ext_dedup_exact",
    oracle=(
        "SELECT min(doc_id) AS doc_id, count(*) AS n_copies "
        "FROM documents GROUP BY text"
    ),
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha2(text) and keep the lowest doc_id as
    the canonical copy. Hash-grouping means the shuffle key is 32
    bytes regardless of document size — the only sane exact-dedup
    shuffle at 100 TB. (Oracle groups by raw text: identical grouping
    absent SHA-256 collisions.)"""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


INCR_BASE_BUCKETS = 8  # md5 buckets 0-7 = base corpus, 8-9 = increment


_INCR_ORACLE = (
    "WITH b AS (SELECT doc_id, text FROM documents "
    f"WHERE {doc_bucket_sql('doc_id')} < {INCR_BASE_BUCKETS}), "
    "i AS (SELECT doc_id, text FROM documents "
    f"WHERE {doc_bucket_sql('doc_id')} >= {INCR_BASE_BUCKETS}) "
    "SELECT i.doc_id, "
    "EXISTS (SELECT 1 FROM b WHERE b.text = i.text) AS dup_of_base "
    "FROM i"
)


@register("ext_dedup_incremental", oracle=_INCR_ORACLE)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup — the nightly-ingest pattern: a
    new increment must be deduped AGAINST THE EXISTING BASE CORPUS,
    not just within itself. Emits every increment doc with a
    dup-of-base flag (the keep-set is the false rows; emitting the
    flag instead of filtering keeps the oracle contract total). The
    base/increment split is the same md5-bucket device as
    `ext_data_split` so it is a pure function of doc_id — stable
    across engines and partitionings.

    Scale shape: both sides reduce to 32-byte sha2 fingerprints
    before any shuffle, then ONE left-semi-shaped hash join on the
    fingerprint — the increment (small, one day's crawl) shuffles
    against the base's fingerprint set; at 100 TB the base
    fingerprints live as a bucketed table so the join is co-located
    (zero base shuffle per increment, `join_bucketed_colocated`'s
    layout), with a bloom-filter prefilter dropping the ~99% of
    increment rows that match nothing before the join. (Oracle
    compares raw text: identical absent SHA-256 collisions.)"""
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    # the fingerprint frame splits into base/increment arms — pin it
    # or both arms replay the scan-sha2 chain (r6 scan audit; the
    # `ext_dedup_incremental_bloom` fix, same split)
    bucketed = compute_once(
        d.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("h"), bucket.alias("b")
        )
    )
    base = bucketed.filter(F.col("b") < INCR_BASE_BUCKETS).select("h").distinct()
    incr = bucketed.filter(F.col("b") >= INCR_BASE_BUCKETS).select("doc_id", "h")
    return (
        incr.join(base.withColumn("dup", F.lit(True)), "h", "left")
        .select(
            "doc_id", F.coalesce(F.col("dup"), F.lit(False)).alias("dup_of_base")
        )
    )


@register("ext_dedup_incremental_bucketed", oracle=_INCR_ORACLE)
def ext_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ext_dedup_incremental` with its documented 100 TB layout
    actually built: the base corpus's DISTINCT sha2 fingerprints are
    written ONCE as a `bucketBy(8, h)` + `sortBy(h)` catalog table
    (the `join_bucketed_colocated` device), so every nightly
    increment joins against the base WITH NO EXCHANGE on the base
    side — the plan shuffles only the increment into the bucket
    layout (an in-partition Sort remains on the bucketed scan: Spark
    takes distribution from the bucket layout but, by default, not
    file order). Same semantics and oracle as the plain operator;
    what changes is who pays per night: amortized one bucketed write
    vs re-shuffling the (at scale, enormous) base fingerprint set on
    every ingest. The plan scans the bucketed base with no Exchange.
    The remaining scale knob — a bloom filter built from the base
    buckets to pre-drop the ~99% of increment rows matching nothing
    before the join — stays documented, not built: it changes cost,
    not the join's layout contract. Setup is idempotent per
    (sf_dir, source mtime) like the other bucketed fixture."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    fp = sf_dir
    p = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(p)
        fp += f"|documents:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp += "|documents:missing"
    tag = hashlib.sha1(fp.encode()).hexdigest()[:8]
    name = f"smdp_bkt_basefp_{tag}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    fingerprinted = d.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h"), bucket.alias("b")
    )
    if not spark.catalog.tableExists(name):
        stale = os.path.join(wh, name)
        if wh and os.path.isdir(stale):
            shutil.rmtree(stale)
        (
            fingerprinted.filter(F.col("b") < INCR_BASE_BUCKETS)
            .select("h")
            .distinct()
            .write.bucketBy(8, "h")
            .sortBy("h")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    base = spark.table(name).withColumn("dup", F.lit(True)).hint("merge")
    incr = fingerprinted.filter(F.col("b") >= INCR_BASE_BUCKETS).select(
        "doc_id", "h"
    )
    return incr.join(base, "h", "left").select(
        "doc_id", F.coalesce(F.col("dup"), F.lit(False)).alias("dup_of_base")
    )


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) rows. Uses ``explode_outer`` + a post-explode
    null filter instead of plain ``explode``: Catalyst's
    InferFiltersFromGenerate would otherwise clone the shingle
    expression into a `size(sh)>0` filter and push it below the
    rebalance exchange — evaluating the expensive HOF chain twice,
    the first time serially in the pre-shuffle stage (measured 10x
    slower at sf0.1)."""
    d = _with_shingles(_load_docs(spark, sf_dir))
    return d.select("doc_id", F.explode_outer("sh").alias("s")).filter(
        F.col("s").isNotNull()
    )


def _shingles_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SESSION-SHARED (doc_id, shingle) relation — every gram-based
    dedup/census operator consumes this one pinned frame instead of
    re-running the scan→tokenize→shingle→explode chain per query (the
    r10 miner-family regression's root: up to 6 re-minings per bench
    pass plus per-query checkpoint-block leakage). `session_pin`
    semantics: persist + lineage (block loss recomputes), recursive
    source-fingerprint invalidation, explicit release on eviction."""
    return session_pin(
        spark, sf_dir, "shingles", lambda: _exploded_shingles(spark, sf_dir)
    )


@register(
    "udtf_explode_shingles",
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents) "
        "SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks"
    ),
)
def udtf_explode_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → distinct word-3-gram rows (SURVEY §2.8 EXT
    `udtf_explode_shingles` — the table-function primitive under
    MinHash and Jaccard dedup), exposed standalone so the oracle
    checks the shingling itself, not just its consumers."""
    return _shingles_pinned(spark, sf_dir)


# Salted 60-bit hash both engines compute identically: the first 15
# hex chars of md5('<salt>:<value>') parsed base-16. (xxhash64 would
# be ~3x faster but DuckDB lacks it — checkability wins; swap the
# hash function behind _salted_hash for a perf-only deployment.)
def _salted_hash(salt, col):
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", salt, col)), 1, 15), 16, 10
    ).cast("long")


def _salted_hash_sql(salt: str, expr: str) -> str:
    return f"CAST(('0x' || substr(md5(concat_ws(':', {salt}, {expr})), 1, 15)) AS BIGINT)"


# 120-bit two-column key from ONE md5 digest (hex chars 1-15 and
# 17-31 parsed base-16 — two independent 60-bit halves, no second
# hash evaluation). The gram-census operators whose ORACLES compare
# raw gram strings (`ext_dup_span_profile`, `ext_dedup_substr_spans`)
# key on the PAIR: a silent Spark-side gram merge now requires a
# 120-bit md5 collision (birthday ~2^60 grams) instead of a 60-bit
# one — which at 100 TB (~1e12 distinct grams) expected ~4e5 merges,
# an exposure proven REAL by a mined md5 collision pair in r11
# (tools/mine_gram_collision.py; regression-pinned in
# tests/test_dedup.py and exercised by the --grams sweep mode).
def _salted_hash_pair(salt, col):
    h = F.md5(F.concat_ws(":", salt, col))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long"),
    )


# Two-hash composition (Kirsch–Mitzenmacher): the j-th MinHash function
# is (h1 + j*h2') mod 2^60 with h2' = h2 mod 2^55, so each shingle pays
# TWO md5 evaluations instead of N_MINHASH — identical arithmetic on
# both engines, and j*h2' + h1 < 2^61 never overflows int64.
_MH_MOD = 1 << 60
_MH_STEP_MOD = 1 << 55


_SHINGLE_CTE = (
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks)"
)

_ROWS_PER_BAND = N_MINHASH // N_BANDS

# MinHash signature + banding + candidate CTE chain over a shingle
# relation named `sh` — shared by the standalone candidate oracle and
# the minhash-fronted pipeline oracle so the two can never diverge.
_MH_CAND_CTES = (
    "hashed AS (SELECT doc_id, "
    f"{_salted_hash_sql(chr(39) + '1' + chr(39), 's')} AS h1, "
    f"{_salted_hash_sql(chr(39) + '2' + chr(39), 's')} % {_MH_STEP_MOD} AS h2 FROM sh), "
    "mh AS (SELECT doc_id, "
    + ", ".join(
        f"min((h1 + {j} * h2) % {_MH_MOD}) AS mh{j}" for j in range(N_MINHASH)
    )
    + " FROM hashed GROUP BY doc_id), "
    "banded AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws(':', {b}, "
        + ", ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
        + ")) AS band_hash FROM mh"
        for b in range(N_BANDS)
    )
    + "), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM banded a JOIN banded b ON a.band_id = b.band_id "
    "AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"
)

_MINHASH_ORACLE = (
    f"WITH {_SHINGLE_CTE}, {_MH_CAND_CTES} "
    "SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b"
)


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N_MINHASH-1}) raw MinHash signatures from
    (doc_id, s) shingle rows — factored out of `_banded_signatures`
    (r11) so the estimator-error audit can compare per-function
    agreement without re-deriving the two-hash composition."""
    h1 = _salted_hash(F.lit("1"), F.col("s"))
    h2 = _salted_hash(F.lit("2"), F.col("s")) % F.lit(_MH_STEP_MOD)
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(j) * F.col("h2")) % F.lit(_MH_MOD)).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ]
    )


def _mh_sigs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED raw MinHash signatures (doc_id, mh0..mh15) over
    the pinned shingle relation (r13 optimization pass): the 16-way
    min-agg is one full shuffle pass over every shingle, and the
    candidate-miner build, the bucket census and the estimator audit
    each re-ran it per invocation. One doc-keyed 16×8-byte frame per
    (app, documents-fingerprint) replaces three signature passes."""
    return session_pin(
        spark,
        sf_dir,
        "mh_signatures",
        lambda: _minhash_signatures(_shingles_pinned(spark, sf_dir)),
    )


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) banding projection over a raw
    signature frame — a scan-local md5+posexplode, no shuffle."""
    # band key = md5 of the band's minhash rows
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[F.col(f"mh{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(bands).alias("band_id", "band_hash")
    )


def _banded_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) banded-MinHash rows from
    (doc_id, s) shingle rows — the signature+banding core shared by
    the candidate miner and the bucket census (pin-backed call sites
    go through `_mh_sigs_pinned` + `_bands_from_sigs` since r13)."""
    return _bands_from_sigs(_minhash_signatures(sh))


def _candidates_from_banded(banded: DataFrame) -> DataFrame:
    """Band-bucket equi-collision candidate pairs (doc_a < doc_b,
    distinct) from (doc_id, band_id, band_hash) rows."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_candidates(sh: DataFrame) -> DataFrame:
    """Banded-MinHash candidate pairs (doc_a < doc_b, distinct) from
    (doc_id, s) shingle rows — the sub-quadratic candidate generator
    shared by `ext_dedup_minhash` (standalone, oracle-checked) and
    `ext_dedup_pipeline_minhash` (composed into the production dedup
    chain). See `ext_dedup_minhash` for the physical-shape notes."""
    return _candidates_from_banded(_banded_signatures(sh))


@register("ext_dedup_minhash", oracle=_MINHASH_ORACLE)
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 16 minhashes → 4
    bands of 4 → band-bucket equi-join. Fully deterministic (salted
    md5-derived 60-bit hashes both engines can compute), so the whole
    signature + banding math is SQL-oracle-checked; banding recall vs
    exact Jaccard is additionally pytest-asserted (tests/test_dedup.py).

    Physical shape: explode shingles once, md5-hash each shingle TWICE
    (two-hash composition — the 16 MinHash functions are
    (h1 + j*h2') mod 2^60, so hashing cost is O(2) not O(16) per
    shingle), min-aggregate per doc (map-side partial => the shuffle
    carries 16x8-byte signatures, not shingles); candidate generation
    is an equi-join on (band, band_hash) — the LSH trick that replaces
    the O(n^2) pair space with bucket collisions. Returns the session
    pin (`_mh_cand_pinned`): the banding executes once per session."""
    return _mh_cand_pinned(spark, sf_dir).orderBy("doc_a", "doc_b")


def _mh_cand_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED banded-MinHash candidate pairs (doc_a, doc_b) —
    consumed by `ext_dedup_minhash`, `ext_dedup_minhash_eval`, and the
    production pipeline's candidate stage. Builds over the pinned
    shingle relation, so a cold session pays scan+shingle ONCE for the
    whole miner family."""
    return session_pin(
        spark, sf_dir, "mh_cand",
        # band over the PINNED signature frame (r13): a cold session
        # pays scan+shingle+signature once for the whole miner family
        lambda: _candidates_from_banded(
            _bands_from_sigs(_mh_sigs_pinned(spark, sf_dir))
        ),
    )


_SIMHASH_ORACLE = (
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), "
    f"h AS (SELECT doc_id, {_salted_hash_sql(chr(39) + '7' + chr(39), 't')} AS h FROM tok), "
    "votes AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, "
    + " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    + " AS simhash FROM votes ORDER BY doc_id"
)


@register("ext_dedup_simhash", oracle=_SIMHASH_ORACLE)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document: token hashes vote ±1 per
    bit position; the sign vector is the signature. One explode + one
    hash-agg (the 32 bit-counters are agg columns); near-dups are docs
    within small Hamming distance — here we emit the signature and a
    bucket count so identical-signature groups are visible. Salted
    md5-derived token hashes keep the whole computation SQL-oracle-
    checkable bit for bit."""
    tok = _load_docs(spark, sf_dir).select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    tok = tok.withColumn("h", _salted_hash(F.lit("7"), F.col("t")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    sig_expr = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig_expr = bit if sig_expr is None else sig_expr + bit
    return (
        tok.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", sig_expr.alias("simhash"))
        .orderBy("doc_id")
    )


# Shared pair-mining CTE chain (built on _SHINGLE_CTE so shingling can
# never drift between the miner and the operators that reuse its
# graph): per-doc distinct-shingle sizes + shared-shingle counts per
# colliding (a < b) pair, and the thresholded Jaccard edge set.
_SHINGLE_PAIR_CTES = (
    _SHINGLE_CTE + ", "
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
    "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2)"
)

_JACCARD_EDGES_CTE = (
    _SHINGLE_PAIR_CTES + ", "
    "edges AS (SELECT doc_a, doc_b FROM inter "
    "JOIN sizes sa ON sa.doc_id = doc_a "
    "JOIN sizes sb ON sb.doc_id = doc_b "
    f"WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD})"
)

_JACCARD_ORACLE = f"""
WITH {_SHINGLE_PAIR_CTES}
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


def _shingle_pair_intersections(spark: SparkSession, sf_dir: str):
    """THE Spark-side candidate core (twin of _SHINGLE_PAIR_CTES):
    returns (inter, sizes) — shared-shingle counts per colliding
    (a < b) pair and per-doc distinct-shingle sizes. Shared by
    `ext_dedup_ngram_jaccard` and `ext_dedup_containment` so the
    pair-generation plan (the sub-quadratic shingle equi-join) lives
    once and a skew/plan fix reaches every consumer.

    The shingle relation is the SESSION pin (`_shingles_pinned`):
    sizes and BOTH equi-join sides otherwise each replay the
    scan-tokenize-shingle-explode chain (r6 scan audit — 3-4
    document scans per consumer), and per-query repinning leaks
    checkpoint blocks across a long sweep (r10 regression). The
    materialized relation is ~3x the text it came from; one write +
    N cache reads beats N columnar scans PLUS N shingling passes
    (the chain is regex/alloc CPU-bound), which is also why
    production MinHash pipelines materialize their feature relation.

    The intersection table itself is ALSO a session pin since r13
    (guide §2.4 — remove the repeated shuffle outright): the shingle
    self-join is the single most expensive stage this family runs,
    and `ext_dedup_containment`, `ext_dedup_edit_distance`,
    `ext_dedup_minhash_est_audit` and the pinned pair-graph build each
    re-ran it per invocation. One (doc_a, doc_b, i) frame per
    (app, documents-fingerprint) — pairs, never shingles — replaces
    four self-joins with one."""
    sh = _shingles_pinned(spark, sf_dir)

    @functools.cache
    def _idf_weights() -> DataFrame:
        """Per-shingle idf-milli weights — `ext_dedup_weighted_jaccard`'s
        exactness device (round(ln(N/df)*1000) as BIGINT), computed
        inside the pin builds below so the ONE shingle self-join
        yields both the plain count and the weighted intersection
        (r14, verdict r13 item 5). Planned only when a pin builds, and
        once per call: the SAME compute_once weights frame feeds the
        sizes build and the intersection build (they normally trigger
        in the same first invocation, so it materializes once)."""
        n = _load_docs(spark, sf_dir).agg(F.count("*").alias("nd"))
        dfq = sh.groupBy("s").agg(F.count("*").alias("df"))
        return compute_once(
            dfq.crossJoin(F.broadcast(n)).select(
                "s",
                F.round(
                    F.log(F.col("nd").cast("double") / F.col("df")) * 1000.0
                )
                .cast("long")
                .alias("iw"),
            )
        )

    # the per-doc size frame is a full pass over the pinned shingle
    # relation — pinned too since r13 (four consumers re-ran it).
    # Since r14 it also carries the per-doc idf-weight total `tw`
    # (Σ iw over the doc's distinct shingles): the idf join keeps
    # every sh row exactly once (w has one row per distinct s), so
    # `n` is bit-identical and the weighted miner stops re-deriving
    # the whole weighted-postings relation per invocation.
    def _build_sizes() -> DataFrame:
        return (
            sh.join(_idf_weights(), "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"), F.sum("iw").alias("tw"))
        )

    sizes = session_pin(spark, sf_dir, "shingle_sizes", _build_sizes)

    def _build_inter() -> DataFrame:
        # a-side postings carry their shingle's idf weight into the
        # self-join, so the per-pair agg emits BOTH the shared count
        # (i — the multiset is unchanged by the multiplicity-1 idf
        # join) and the idf-weighted intersection (wi = Σ iw over
        # shared shingles, exact BIGINT — the oracle's `sum(w.iw)`)
        a = sh.join(_idf_weights(), "s").alias("a")
        b = sh.alias("b")
        return (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("i"), F.sum("a.iw").alias("wi"))
        )

    inter = session_pin(spark, sf_dir, "shingle_inter", _build_inter)
    return inter, sizes


def _mine_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard pair miner plan (unpinned): shingle equi-join
    → per-pair intersection counts → broadcast size join → threshold."""
    inter, sizes = _shingle_pair_intersections(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _pair_graph_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SESSION-SHARED exact-Jaccard pair graph (doc_a, doc_b,
    jaccard) — THE near-dup edge set every downstream graph operator
    (components, LSS, pagerank, triangle/degree/neighbor censuses,
    both end-to-end pipelines) consumes. Mining it once per session is
    the production shape (mine once, consume many) and removes the
    r10 bench regression at the source: the dominant shingle
    equi-join runs once, and every consumer reads a pinned frame the
    size of the pair list (tiny — pairs, not shingles)."""
    return session_pin(
        spark, sf_dir, "jaccard_pairs",
        lambda: _mine_jaccard_pairs(spark, sf_dir),
    )


@register("ext_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for every pair sharing at
    least one shingle. The shingle equi-join prunes the O(n^2) pair
    space to colliding pairs; per-doc shingle counts join back
    broadcast. At scale this runs *after* MinHash banding as the
    exact verifier; standalone here so the oracle can check the
    whole shingle→join→Jaccard math. Returns the session pin
    (`_pair_graph_pinned`) — the miner executes once per session no
    matter how many consumers run."""
    return _pair_graph_pinned(spark, sf_dir)


@register(
    "ext_dedup_cluster_pick",
    oracle=(
        "WITH k AS (SELECT doc_id, n_chars, "
        f"{content_fp_sql('text')} AS ckey FROM documents), "
        "r AS (SELECT doc_id, ckey, "
        "row_number() OVER (PARTITION BY ckey ORDER BY n_chars DESC, doc_id) AS rn, "
        "count(*) OVER (PARTITION BY ckey) AS cluster_size FROM k) "
        "SELECT doc_id AS canonical_id, ckey, cluster_size FROM r WHERE rn = 1"
    ),
)
def ext_dedup_cluster_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: group exact-normalized duplicates
    into clusters (md5 of whitespace-collapsed lowercased text) and
    keep ONE representative per cluster — longest text wins, doc_id
    breaks ties. This is the step after any dedup pass that only finds
    PAIRS (`ext_dedup_exact` drops rows; MinHash/SimHash emit edges):
    a corpus builder must also decide which copy survives. One shuffle
    on the 32-hex cluster key — uniform by construction, so no skew at
    100 TB — then rank + per-cluster count ride the same sorted
    partition (single Window exchange, two functions, one pass)."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    # shared portable fingerprint device: ASCII fold + explicit WS
    # class (full Unicode lower() is engine-defined — r7 unicode sweep)
    ckey = content_fp("text")
    k = d.select("doc_id", "n_chars", ckey.alias("ckey"))
    w = W.partitionBy("ckey").orderBy(F.desc("n_chars"), "doc_id")
    wc = W.partitionBy("ckey")
    r = k.select(
        "doc_id",
        "ckey",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cluster_size"),
    )
    return r.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("canonical_id"), "ckey", "cluster_size"
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node
"""


@register("ext_dedup_components", oracle=_COMPONENTS_ORACLE)
def ext_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the
    step every pairwise dedup pass (MinHash bands, SimHash, Jaccard
    verify) needs next: pairs (a,b),(b,c) must collapse into ONE
    cluster {a,b,c} before a canonical doc can be picked
    (`ext_dedup_cluster_pick` is the intra-cluster half). Component id
    = min doc_id reachable; edges here are the exact-Jaccard pairs so
    the whole graph is oracle-reproducible (the oracle walks it with a
    recursive CTE).

    Iterative min-label propagation as a driver-coordinated loop of
    DataFrame ops: each round every node takes the min of its own and
    its neighbors' labels — O(diameter) rounds, each a distributed
    join + agg (diameter is tiny for dedup graphs, which are
    near-cliques). `localCheckpoint` cuts the growing lineage per
    round (the classic Spark iterative-algorithm trap); the edge list
    is re-partitioned on src once and reused every round. At larger
    diameters you'd switch to large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce"), same DataFrame vocabulary.

    The r13 `lp_components` session pin was DROPPED in r14 (verdict
    r13 item 2 — pin economics): this query was the pin's ONLY
    consumer and the pin WAS the whole query result, so the only
    thing it "optimized" was the bench's own second pass — a
    memoization, not a speedup. The label-prop loop now runs per
    invocation again (reading the shared `jaccard_pairs` pin, which
    keeps the expensive miner shared); the honest cost is the loop
    itself."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = ext_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return _label_propagate(docs, pairs)


LABEL_PROP_MAX_ROUNDS = 50  # >= graph diameter; dedup graphs converge in a few


def _label_propagate(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair graph; returns
    (doc_id, component) with component = min reachable doc_id.
    Raises RuntimeError if the graph's effective diameter exceeds
    LABEL_PROP_MAX_ROUNDS instead of returning unconverged labels.

    Checkpoints are LAZY (eager=False, r9 perf pass): the per-round
    convergence collect is a full pass over the new labels anyway, so
    it doubles as the checkpoint materialization — ONE distributed
    job per round instead of two (eager checkpoint + collect), worth
    ~10-15% on the whole component family at sf0.1. The
    `compute_once` fault-tolerance caveats apply unchanged
    (localCheckpoint cuts lineage; executor loss fails the job)."""
    # self-loops make each round a single join+agg: a node's new label
    # is min over ALL incoming edges, its own label arriving via the
    # self-edge (no second left-join to merge it back)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .unionByName(
            docs.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
        )
        .repartition("src")
        # materialized by round 1's action; reused every round after
        .localCheckpoint(eager=False)
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl")).localCheckpoint(
        eager=False
    )
    # labels only ever decrease, so convergence <=> the label sum stops
    # moving — one scalar agg per round instead of a join + count
    # (decimal(38,0) keeps the sum exact at any corpus size)
    prev_sum = labels.agg(
        F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    converged = False
    for _ in range(LABEL_PROP_MAX_ROUNDS):
        labels = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # a silent exit here would return WRONG component labels for any
        # graph whose effective diameter exceeds the round budget (e.g. a
        # >LABEL_PROP_MAX_ROUNDS-long chain of near-dup docs) — fail loud;
        # the fix at that scale is large-star/small-star, not more rounds
        raise RuntimeError(
            f"label propagation did not converge within {LABEL_PROP_MAX_ROUNDS} "
            "rounds: pair-graph diameter exceeds the budget; switch to "
            "large-star/small-star (Kiveris et al.) for this graph"
        )
    return labels.select("doc_id", F.col("lbl").alias("component"))


LSS_MAX_ROUNDS = 64  # covers the O(log^2 n) bound at any feasible corpus size


@register("ext_dedup_components_lss", oracle=_COMPONENTS_ORACLE)
def ext_dedup_components_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the high-diameter path that `ext_dedup_components`'
    label propagation names as its fallback, implemented for real.

    Same input graph (exact-Jaccard near-dup pairs), same output
    contract (doc_id -> component = min reachable doc_id), same
    recursive-CTE oracle — so the driver hash-checks that both
    algorithms agree with the ground truth.

    Why this exists: label propagation runs O(diameter) rounds — fine
    for near-clique dedup graphs, quadratic-feeling on a chain of
    near-duplicate documents (crawl shards often produce exactly
    that: boilerplate chains). Star contraction converges in
    O(log^2 n) rounds REGARDLESS of diameter: each large-star hangs
    every node's larger neighbors onto its minimum, each small-star
    re-points smaller neighbors at the running minimum, and the graph
    collapses toward one star per component. Each round is two
    (min-agg + join) passes over the edge list — the same shuffle
    vocabulary as one label-prop round, just with a provably bounded
    round count."""
    return _lss_components_shared(spark, sf_dir)


def _lss_components_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED LSS component assignment (doc_id, component)
    over the pinned exact-Jaccard pair graph. `ext_dedup_components_lss`,
    `ext_dedup_component_census`, and `ext_doc_dup_profile`'s sibling
    consumers all read ONE star contraction per session (r8/r9 verdict
    carry-over, generalized to `catalog.session_pin` in r11: recursive
    source-fingerprint invalidation, explicit block release on
    eviction, and persist-with-lineage instead of a checkpoint — a
    pinned partition lost to executor failure now RECOMPUTES through
    the contraction result's lineage instead of permanently failing
    the memo entry. The contraction itself still localCheckpoints its
    per-round edge frames; losing THOSE blocks fails the consuming job
    loudly — never a wrong answer — and the next call's rebuild
    recovers, since a failed build stores nothing)."""

    def _build() -> DataFrame:
        docs = load(spark, sf_dir, "documents").select("doc_id")
        pairs = _pair_graph_pinned(spark, sf_dir).select("doc_a", "doc_b")
        return _large_small_star(docs, pairs)

    return session_pin(spark, sf_dir, "lss_components", _build)


def _large_small_star(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Alternating star contraction; returns (doc_id, component).

    Edge invariant between rounds: edges are kept directed
    large->small (u > v), one row per distinct pair. Convergence is
    detected on a fixed point of an order-independent edge-set
    fingerprint: count plus the decimal sum of per-edge xxhash64(u, v)
    — a coordinate-sum summary like (sum u, sum v) is NOT sound (two
    different edge sets, e.g. {(3,1),(4,2)} and {(4,1),(3,2)}, sum
    identically), while colliding the hash-sum requires a 64-bit
    multiset-sum collision. Two scalars per round, no data collected.
    Raises RuntimeError on round-budget overflow (can't happen under
    the O(log^2 n) bound unless the input edge list is adversarially
    degenerate)."""
    spark = docs.sparkSession
    # canonical directed edges u > v, self-loop-free
    e = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # lazy: the first _summary collect materializes it (r9 perf
        # pass — one job per round, the _label_propagate note)
        .localCheckpoint(eager=False)
    )

    def _summary(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("hs"),
        ).collect()[0]
        return (row["n"], row["hs"])

    prev = _summary(e)
    converged = False
    for _ in range(LSS_MAX_ROUNDS):
        # -- large-star: per node u over the UNDIRECTED adjacency,
        #    m(u) = min(N(u) ∪ {u}); emit (x, m(u)) for x in N(u), x > u
        adj = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        e = (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            # v > u >= m(u), so (v, m) is already directed large->small
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: edges are directed u -> {smaller neighbors};
        #    m(u) = min of them; re-point every smaller neighbor AND u
        #    itself at m(u)
        sm = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(sm, "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(sm.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v")
            )
            .distinct()
            # cut lineage; both stars above are lazy, and the round's
            # _summary collect materializes the checkpoint (r9)
            .localCheckpoint(eager=False)
        )
        cur = _summary(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not reach an edge fixed point in "
            f"{LSS_MAX_ROUNDS} rounds (O(log^2 n) expected) — degenerate "
            "input edge list?"
        )
    # fixed point = one star per component: every non-root points at its
    # component min. Isolated docs are their own component.
    return (
        docs.join(e.select(F.col("u").alias("doc_id"), "v"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("v"), F.col("doc_id")).alias("component"),
        )
    )


E2E_MIN_TOKENS = 10

_PIPELINE_ORACLE = f"""
WITH RECURSIVE f AS (SELECT doc_id, text, n_chars FROM documents
          WHERE len(string_split(text, ' ')) >= {E2E_MIN_TOKENS}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM f),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM f
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
ranked AS (SELECT c.doc_id, c.component,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY d.n_chars DESC, c.doc_id) AS rn,
           count(*) OVER (PARTITION BY c.component) AS cluster_size
           FROM comp c JOIN f d ON d.doc_id = c.doc_id)
SELECT doc_id AS keep_id, component, cluster_size FROM ranked WHERE rn = 1
"""


def _gated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pipelines' quality-gate id set (scan-local token
    gate; SLIM doc_id projection)."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.size(_tokens(F.col("text"))) >= E2E_MIN_TOKENS)
        .select("doc_id")
    )


def _pipeline_comp_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED component assignment (doc_id, component) over the
    GATED exact-Jaccard pair graph — the label-prop stage of
    `ext_dedup_pipeline`, consumed there AND (via the composed plan) by
    `ext_dedup_pipeline_recall` (r13 optimization pass: the iterative
    round loop is eager driver-coordinated work that ran once per
    invocation; one pin per (app, documents-fingerprint) makes it once
    per session)."""

    def _build() -> DataFrame:
        gids = _gated_ids(spark, sf_dir)
        pairs = (
            _pair_graph_pinned(spark, sf_dir)
            .select("doc_a", "doc_b")
            .join(gids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(gids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        )
        return _label_propagate(gids, pairs)

    return session_pin(spark, sf_dir, "pipeline_comp", _build)


def _pipeline_mh_comp_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED component assignment over the gated
    BANDED-CANDIDATE-verified pair graph — `ext_dedup_pipeline_minhash`'s
    label-prop stage, consumed there and by
    `ext_dedup_pipeline_recall`'s banded arm (r13, same rationale as
    `_pipeline_comp_pinned`)."""

    def _build() -> DataFrame:
        gids = _gated_ids(spark, sf_dir)
        pairs = (
            _pair_graph_pinned(spark, sf_dir)
            .select("doc_a", "doc_b")
            .join(_mh_cand_pinned(spark, sf_dir), ["doc_a", "doc_b"], "left_semi")
            .join(gids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(gids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        )
        return _label_propagate(gids, pairs)

    return session_pin(spark, sf_dir, "pipeline_mh_comp", _build)


@register("ext_dedup_pipeline", oracle=_PIPELINE_ORACLE)
def ext_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup: quality gate → candidate pairs → connected
    components → canonical pick, composed as one operator — the whole
    chain a training-data run executes, each stage an op this module
    already proves in isolation. Output is the surviving corpus: one
    keeper per near-dup cluster with its cluster size.

    Stage shapes at 100 TB: the token gate is scan-local (rows never
    shuffled); the pair stage reads the SESSION-PINNED exact-Jaccard
    graph restricted to gated docs — sound because Jaccard is a
    pairwise function: pairs(gated corpus) ≡ pairs(full corpus) with
    both endpoints gated, so the dominant shingle equi-join runs once
    per session, not once per pipeline (r10 verdict item 2). Label
    propagation runs O(diameter) join+agg rounds; the pick is two
    window functions on one exchange. At deployment the exact-Jaccard
    pair stage swaps for MinHash banding (`ext_dedup_minhash`) — same
    downstream graph machinery, sub-quadratic candidate generation;
    exact pairs keep this composition oracle-checkable end to end
    (recursive CTE on the DuckDB side). The component assignment is a
    SESSION pin since r13 (`_pipeline_comp_pinned`): the label-prop
    round loop ran per invocation before — here AND inside
    `ext_dedup_pipeline_recall`'s exact arm."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    f = d.filter(F.size(_tokens(F.col("text"))) >= E2E_MIN_TOKENS).select(
        "doc_id", "n_chars"
    )
    comp = _pipeline_comp_pinned(spark, sf_dir)
    ranked = comp.join(f.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    wc = W.partitionBy("component")
    r = ranked.select(
        "doc_id",
        "component",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cluster_size"),
    )
    return r.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("keep_id"), "component", "cluster_size"
    )


_PIPELINE_MINHASH_ORACLE = f"""
WITH RECURSIVE f AS (SELECT doc_id, text, n_chars FROM documents
          WHERE len(string_split(text, ' ')) >= {E2E_MIN_TOKENS}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM f),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
{_MH_CAND_CTES},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM f
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
ranked AS (SELECT c.doc_id, c.component,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY d.n_chars DESC, c.doc_id) AS rn,
           count(*) OVER (PARTITION BY c.component) AS cluster_size
           FROM comp c JOIN f d ON d.doc_id = c.doc_id)
SELECT doc_id AS keep_id, component, cluster_size FROM ranked WHERE rn = 1
"""


@register("ext_dedup_pipeline_minhash", oracle=_PIPELINE_MINHASH_ORACLE)
def ext_dedup_pipeline_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-shape end-to-end dedup chain: quality gate →
    banded-MinHash candidates (sub-quadratic) → exact-Jaccard verify
    RESTRICTED to candidates → connected components → canonical pick.
    `ext_dedup_pipeline` proves the same composition with exhaustive
    exact-Jaccard pairs; its docstring promises that "at deployment
    the exact-Jaccard pair stage swaps for MinHash banding" — this
    operator IS that swap, still hash-checked end to end because the
    banding arithmetic is deterministic salted-md5 math the DuckDB
    oracle reproduces (candidate recall < 1 is part of the contract,
    not noise: both engines compute the identical candidate set).

    Stage shapes at 100 TB: gate scan-local; signatures reduce
    map-side to 16×8-byte minhashes before the one doc-keyed shuffle
    (never shingle text); candidates come from band-bucket
    equi-collisions; the Jaccard verify joins shingles ONLY for
    candidate pairs (cost linear in candidates × shingles/doc, never
    all-pairs — the piece the exhaustive pipeline can't claim);
    components and pick reuse the proven label-prop/window machinery.

    Both mining stages read the SESSION pins (r10 verdict item 2):
    banding and the exact-Jaccard verify are pairwise functions, so
    candidates(gated) ≡ candidates(all) ∩ gated², and a candidate
    pair passes the verify iff it sits in the pinned exact pair graph
    (jaccard ≥ t ⇒ intersection > 0 ⇒ the pair shares a shingle and
    was scored by the exhaustive miner). verified = pair_pin ⋉ cand_pin
    restricted to gated endpoints — three broadcast-sized semi-joins
    replacing a per-query re-mine, identical output by construction,
    same oracle. The component assignment is a SESSION pin since r13
    (`_pipeline_mh_comp_pinned` — the label-prop loop ran per
    invocation here and in `ext_dedup_pipeline_recall`'s banded arm)."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    f = d.filter(F.size(_tokens(F.col("text"))) >= E2E_MIN_TOKENS).select(
        "doc_id", "n_chars"
    )
    comp = _pipeline_mh_comp_pinned(spark, sf_dir)
    ranked = comp.join(f.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    wc = W.partitionBy("component")
    r = ranked.select(
        "doc_id",
        "component",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cluster_size"),
    )
    return r.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("keep_id"), "component", "cluster_size"
    )


EVAL_SET_MAX_ID = 10  # fixture's stand-in eval set: doc_id < 10
CONTAM_MIN_SHARED = 3


@register(
    "ext_contamination_check",
    oracle=(
        f"WITH {_SHINGLE_CTE}, "
        f"e AS (SELECT DISTINCT s FROM sh WHERE doc_id < {EVAL_SET_MAX_ID}), "
        f"c AS (SELECT doc_id, s FROM sh WHERE doc_id >= {EVAL_SET_MAX_ID}) "
        "SELECT c.doc_id, count(*) AS n_shared FROM c JOIN e USING (s) "
        f"GROUP BY c.doc_id HAVING count(*) >= {CONTAM_MIN_SHARED}"
    ),
)
def ext_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: flag training documents sharing
    ≥ K word-3-grams with the eval set (docs `doc_id <
    EVAL_SET_MAX_ID` stand in for the benchmark) — the
    decontamination pass every LLM data pipeline runs before
    training (cf. GPT-3 appx C / PaLM §6). Asymmetric by design:
    the eval side is tiny, so its DISTINCT shingle set broadcasts
    and the 100 TB corpus side streams through a map-side hash join
    — no shuffle of corpus shingles at all; only the per-doc match
    counts (a handful of rows) aggregate. Shingles are already
    distinct per doc, so count(*) counts distinct shared shingles."""
    sh = _shingles_pinned(spark, sf_dir)
    ev = (
        sh.filter(F.col("doc_id") < EVAL_SET_MAX_ID)
        .select("s")
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= EVAL_SET_MAX_ID)
    return (
        corpus.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


@register(
    "ext_ngram_census",
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks) "
        "SELECT s AS shingle, count(*) AS df FROM sh GROUP BY s "
        "ORDER BY df DESC, s LIMIT 20"
    ),
)
def ext_ngram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-3-gram census: the top-20 shingles by document
    frequency — the boilerplate detector (navigation chrome, license
    headers, template sentences surface instantly) and the statistic
    behind contamination triage (`ext_contamination_check` asks about
    SPECIFIC eval shingles; this reports the corpus's own heavy
    hitters). Reuses the shared shingle explode (`_exploded_shingles`,
    distinct per doc, so df counts documents not occurrences).

    Scale shape: the only full-width motion is the shingle-keyed
    count shuffle with map-side partials; top-20 runs as
    TakeOrderedAndProject over the aggregated side — no global sort.
    Same plan family as `ext_tfidf_topterms` one level up the n-gram
    ladder."""
    sh = _shingles_pinned(spark, sf_dir)
    return (
        sh.groupBy(F.col("s").alias("shingle"))
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "shingle")
        .limit(20)
    )


PASSAGE_W = 8  # words per passage window

_PASSAGE_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(len(w) / {PASSAGE_W}.0) AS BIGINT) - 1)) AS idx,
         unnest(list_transform(
             generate_series(0, CAST(ceil(len(w) / {PASSAGE_W}.0) AS BIGINT) - 1),
             i -> array_to_string(w[i * {PASSAGE_W} + 1 : i * {PASSAGE_W} + {PASSAGE_W}], ' '))) AS passage
  FROM s),
k AS (SELECT doc_id, idx, passage,
             row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) = 1 AS keep
      FROM c)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN passage END, ' '
                           ORDER BY idx, passage), '') AS dedup_text
FROM k GROUP BY doc_id
"""
# ^ ORDER BY (idx, passage), not idx alone: under PK-violating
# duplicate doc_id rows two DIFFERENT passages can share an idx, and
# the Spark side's array_sort(collect_list(struct(idx, passage)))
# already totals that tie — the r11 extended --dups gate caught the
# oracle picking an arbitrary tie order (value-neutral on unique-PK
# corpora, where (doc_id, idx) is unique by construction)


@register("ext_dedup_passage", oracle=_PASSAGE_ORACLE)
def ext_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup (CCNet-style): documents are cut into
    non-overlapping W-word passages, exact-duplicate passages are
    removed CORPUS-WIDE keeping only the first occurrence (ordered by
    (doc_id, idx)), and each document is re-assembled from its
    surviving passages. This is the sub-document sibling of
    `ext_dedup_exact` — boilerplate (navigation chrome, license
    headers, quoted reposts) repeats at passage granularity even when
    whole documents are unique, and web-corpus pipelines run exactly
    this pass before training (the reference dedups whole rows only,
    `Data Collection/Reddit.py:75-80`).

    Plan: split + posexplode are scan-local; the first-occurrence
    window partitions by the PASSAGE so the shuffle key is the dedup
    key itself and each window group is one passage's tiny duplicate
    set; re-assembly is a second hash shuffle on doc_id with
    `array_sort(collect_list(struct(idx, passage)))` restoring
    document order without a sort exchange. At 100 TB both shuffles
    are plain hash-partition motions — no all-pairs stage, no driver
    state; a hot passage (the corpus's top boilerplate string) lands
    one skewed window group, which AQE splits, and the canonical-copy
    choice stays deterministic because the order key (doc_id, idx) is
    total. CASE-wrapped collect_list drops non-kept rows JVM-side, so
    only surviving passages ride the second shuffle."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    chunks = d.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {PASSAGE_W}.0) as int) - 1), "
                f"i -> array_join(slice(w, i * {PASSAGE_W} + 1, {PASSAGE_W}), ' '))"
            )
        ).alias("idx", "passage"),
    )
    first = F.row_number().over(
        W.partitionBy("passage").orderBy("doc_id", "idx")
    )
    kept = chunks.withColumn("keep", first == 1)
    return kept.groupBy("doc_id").agg(
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


PR_ITERS = 5
PR_INIT_MICRO = 1_000_000
PR_BASE_MICRO = 150_000  # 0.15 damping base, micro-prob units


def _pagerank_oracle() -> str:
    """Unrolled-iteration DuckDB twin of ext_graph_pagerank: K LEFT-
    JOIN/GROUP-BY blocks instead of a recursive CTE (aggregation in
    the recursive term is engine-dependent; unrolling is portable and
    the iteration count is a fixed constant of the operator)."""
    head = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY s),
s0 AS (SELECT doc_id, CAST({PR_INIT_MICRO} AS BIGINT) AS score FROM documents)"""
    blocks = []
    for k in range(1, PR_ITERS + 1):
        blocks.append(
            f""",
s{k} AS (SELECT n.doc_id,
         CAST({PR_BASE_MICRO} + (85 * COALESCE(c.t, 0)) // 100 AS BIGINT) AS score
         FROM documents n LEFT JOIN (
           SELECT e.d AS doc_id, CAST(SUM(p.score // g.outdeg) AS BIGINT) AS t
           FROM edges e JOIN s{k - 1} p ON p.doc_id = e.s
           JOIN deg g ON g.s = e.s
           GROUP BY e.d) c USING (doc_id))"""
        )
    return (
        head
        + "".join(blocks)
        + f" SELECT doc_id, score AS score_micro FROM s{PR_ITERS}"
    )


@register("ext_graph_pagerank", oracle=_pagerank_oracle())
def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph — graph-based
    authority scoring, the third iterative-graph algorithm beside
    label propagation and large-star/small-star: a document tied into
    a dense near-dup neighborhood accumulates score (template hub),
    an isolated document settles at the damping base. Web-scale
    curation uses exactly this family as a quality prior
    (PageRank/harmonic centrality over the link graph).

    Exactness device: ALL arithmetic is integer micro-probability —
    contributions are `score div outdeg`, the damped update is
    `150000 + (85·Σ) div 100` — so every iteration is exact BIGINT
    math with a fixed truncation rule, reproducible bit-for-bit
    against the oracle's unrolled SQL (no float mass, no convergence
    epsilon; the iteration count is part of the operator contract).
    Dangling-node mass is dropped rather than redistributed — same
    rule on both sides, documented deviation from textbook PR.

    Scale shape: the edge+degree table builds once and
    localCheckpoints; each of the K rounds is one src-keyed hash join
    (scores are (id, long) pairs — narrow) and one dst-keyed sum agg,
    the label-propagation motion pattern. No driver-side graph state;
    K is fixed, not data-dependent."""
    pairs = ext_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).union(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
    deg = edges.groupBy("s").agg(F.count("*").alias("outdeg"))
    # lazy checkpoints (r9 perf pass): no per-round collect exists, so
    # eager materialization added a scheduling barrier per round; the
    # final action materializes the whole chain, each checkpoint once
    # (A/B at sf0.1: 3.7-3.9s eager vs 2.9-3.1s lazy)
    edges_deg = edges.join(deg, "s").localCheckpoint(eager=False)

    # node spine checkpointed ONCE (r14, verdict r13 item 6 — reuse
    # the one-time partitioning): every round's dangling-node left
    # join re-scanned documents.parquet before (K+1 scans per
    # invocation); now one scan materializes the id spine and each
    # round reads the cached partitions
    nodes = load(spark, sf_dir, "documents").select("doc_id").localCheckpoint(
        eager=False
    )
    scores = nodes.withColumn(
        "score", F.lit(PR_INIT_MICRO).cast("long")
    ).localCheckpoint(eager=False)
    for _ in range(PR_ITERS):
        contrib = edges_deg.join(
            scores.select(F.col("doc_id").alias("s"), "score"), "s"
        ).select(
            F.col("d").alias("doc_id"),
            F.expr("score div outdeg").alias("c"),
        )
        tot = contrib.groupBy("doc_id").agg(F.sum("c").alias("t"))
        scores = (
            nodes.join(tot, "doc_id", "left")
            .select(
                "doc_id",
                F.expr(
                    f"cast({PR_BASE_MICRO} + (85 * coalesce(t, 0L)) div 100 "
                    "as bigint)"
                ).alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    return scores.select("doc_id", F.col("score").alias("score_micro"))


# ------------------------------------------------ corpus snapshot diff

# Deterministic two-snapshot simulation over the documents fixture
# (pure functions of doc_id, stable across engines/partitionings):
#   v1 = docs with doc_id % 7 != 0          (so v2-only rows exist)
#   v2 = docs with doc_id % 5 != 0, where doc_id % 3 == 0 rows carry
#        a revised text (so changed rows exist)
_DIFF_REV_SUFFIX = " [rev2]"

_DIFF_ORACLE = f"""
WITH v1 AS (SELECT doc_id, sha256(text) AS fp FROM documents WHERE doc_id % 7 <> 0),
v2 AS (SELECT doc_id,
         sha256(CASE WHEN doc_id % 3 = 0 THEN text || '{_DIFF_REV_SUFFIX}' ELSE text END) AS fp
       FROM documents WHERE doc_id % 5 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       v1.fp AS fp_v1, v2.fp AS fp_v2
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.fp <> v2.fp
"""


@register("ext_dataset_diff", oracle=_DIFF_ORACLE)
def ext_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the release-to-release audit every
    dataset publisher runs: which documents were added, removed, or
    content-changed between snapshot v1 and snapshot v2 (unchanged
    rows are excluded, so the output is the delta, not the corpus).
    The reference's nightly re-collection implicitly produces such
    deltas (SURVEY §3.1); here the diff is a first-class operator.

    Scale shape: each snapshot reduces to (doc_id, 32-byte sha2
    fingerprint) IN THE SCAN — document text never shuffles — then
    ONE full-outer hash join keyed on doc_id. At 100 TB both
    snapshots live as doc_id-bucketed tables (the
    `ext_dedup_incremental_bucketed` layout), making the diff join
    exchange-free; AQE handles the (rare) hot-key skew. Status
    derivation is a codegen CASE over explicit presence markers
    carried through the join (NOT fingerprint null-ness — sha2 of a
    NULL text is NULL, so fp-null conflates "row absent" with "row
    present, text null"; the booleans keep those distinct and match
    the oracle's doc_id-based logic) — no second pass."""
    d = load(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("fp_v1"),
        F.lit(True).alias("in_v1"),
    )
    v2 = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.sha2(
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(F.col("text"), F.lit(_DIFF_REV_SUFFIX)),
                ).otherwise(F.col("text")),
                256,
            ).alias("fp_v2"),
            F.lit(True).alias("in_v2"),
        )
    )
    j = v1.join(v2, "doc_id", "full_outer")
    in1 = F.coalesce("in_v1", F.lit(False))
    in2 = F.coalesce("in_v2", F.lit(False))
    status = (
        F.when(~in1, "added").when(~in2, "removed").otherwise("changed")
    )
    # keep-filter mirrors the oracle: both-present rows survive only on
    # a STRICT fp inequality (NULL-fp pairs drop, as v1.fp <> v2.fp is
    # NULL in SQL), single-side rows always survive
    return j.filter(~in1 | ~in2 | (F.col("fp_v1") != F.col("fp_v2"))).select(
        "doc_id", status.alias("status"), "fp_v1", "fp_v2"
    )


# ------------------------------------------- duplicate-cluster census

_CENSUS_ORACLE = """
WITH c AS (SELECT sha256(text) AS fp, CAST(count(*) AS BIGINT) AS sz
           FROM documents GROUP BY 1)
SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM c GROUP BY 1
"""


@register("ext_dedup_cluster_census", oracle=_CENSUS_ORACLE)
def ext_dedup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many exact-duplicate
    clusters of each size the corpus holds and how many documents
    they cover (size 1 = unique docs). The one-page duplication
    profile a data card quotes ("12% of docs sit in clusters ≥ 2")
    and the sanity check run before and after any dedup pass —
    `ext_corpus_datacard` reports the corpus-wide rate; this is its
    per-cluster-size decomposition.

    Scale shape: pass 1 is the exact-dedup shuffle (keyed on the
    sha2 fingerprint computed in the scan, map-side partial counts);
    pass 2 re-keys the CLUSTER table (already ~unique-docs-sized,
    far smaller than the corpus) on the integer size — a
    calendar-bounded-style tiny agg. Nothing wider than
    (fingerprint, count) ever moves."""
    d = load(spark, sf_dir, "documents")
    clusters = (
        d.select(F.sha2(F.col("text"), 256).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("sz"))
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"), F.sum("sz").alias("n_docs")
    )


# ------------------------------------------- near-dup degree census

_DEGREE_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b FROM pairs),
deg AS (SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM edges GROUP BY 1)
SELECT coalesce(d.degree, 0) AS degree, CAST(count(*) AS BIGINT) AS n_docs
FROM documents n LEFT JOIN deg d USING (doc_id) GROUP BY 1
"""


@register("ext_graph_degree_census", oracle=_DEGREE_ORACLE)
def ext_graph_degree_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup similarity graph (degree 0 =
    isolated docs included): the one-glance shape report on a dedup
    graph — a heavy tail here means template hubs, which predicts
    both `ext_dedup_components` round counts and where
    `ext_graph_pagerank` mass will concentrate. Run it BEFORE the
    iterative algorithms to choose label-prop vs LSS.

    Scale shape: reuses the sub-quadratic pair miner, then two keyed
    count aggs — node-keyed degree (≤2 rows per pair in motion) and
    degree-keyed histogram over the already-node-sized table. The
    isolated-doc row costs one broadcast-ish left join of (doc_id)
    against the degree table. The edge list is the session-pinned
    pair graph — the degree union's two arms otherwise each replay
    the ENTIRE miner (r6 scan audit: 9 document scans before, 2
    after; the pin upgrades the per-query `compute_once` to
    once-per-session)."""
    pairs = _pair_graph_pinned(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("v")).union(
        pairs.select(F.col("doc_b").alias("v"))
    )
    deg = edges.groupBy(F.col("v").alias("doc_id")).agg(
        F.count("*").alias("degree")
    )
    nodes = load(spark, sf_dir, "documents").select("doc_id")
    return (
        nodes.join(deg, "doc_id", "left")
        .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_docs"))
    )


# ------------------------------------------ banding quality evaluation

_MH_EVAL_ORACLE = (
    f"WITH {_SHINGLE_CTE}, "
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
    "          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id "
    "          GROUP BY 1, 2), "
    "truth AS (SELECT doc_a, doc_b FROM inter "
    "          JOIN sizes sa ON sa.doc_id = doc_a "
    "          JOIN sizes sb ON sb.doc_id = doc_b "
    f"          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}), "
    f"{_MH_CAND_CTES}, "
    "u AS (SELECT coalesce(t.doc_a, c.doc_a) AS doc_a, "
    "             coalesce(t.doc_b, c.doc_b) AS doc_b, "
    "             t.doc_a IS NOT NULL AS in_truth, "
    "             c.doc_a IS NOT NULL AS in_cand "
    "      FROM truth t FULL OUTER JOIN cand c "
    "      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b), "
    "m AS (SELECT "
    "  CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
    "  CAST(sum(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
    "  CAST(sum(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp "
    "  FROM u) "
    "SELECT tp, fn, fp, "
    "  CAST(CASE WHEN tp + fp > 0 THEN tp * 1000 // (tp + fp) END AS BIGINT) "
    "    AS precision_permille, "
    "  CAST(CASE WHEN tp + fn > 0 THEN tp * 1000 // (tp + fn) END AS BIGINT) "
    "    AS recall_permille "
    "FROM m"
)


@register("ext_dedup_minhash_eval", oracle=_MH_EVAL_ORACLE)
def ext_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-quality confusion matrix: banded-MinHash candidate
    pairs scored against the exact-Jaccard truth set (τ=0.05) — the
    measurement every production dedup chain should publish before
    anyone trusts its recall. Emits TP / FN (pairs banding missed —
    recall loss) / FP (candidates the exact verifier will discard —
    wasted verify work) plus precision/recall in exact integer
    permille; band/row counts are THE tuning knobs this table
    evaluates. Complements `ext_sim_lsh_recall` (the vector-LSH
    twin) on the lexical side.

    The numbers it reports are honestly unflattering at the fixture's
    loose τ=0.05: 4 bands × 4 rows puts the banding S-curve's 50%
    point near jaccard (1/4)^(1/4) ≈ 0.71, so weak near-dup pairs are
    mostly missed (recall ~450‰ at sf0.1) while strong dups are
    caught — which is precisely the trade the table makes visible;
    matching the knobs to the target threshold is the user's call.

    Exactness: both pair sets are deterministic (salted-md5 MinHash,
    exact Jaccard), so every cell is an exact BIGINT and the
    permilles are integer floor-divisions — the whole confusion
    matrix hash-matches an oracle that recomputes signature banding
    AND truth in SQL from the same shingle relation.

    Scale shape: truth generation is the shingle-collision join
    (sub-quadratic, the `ext_dedup_ngram_jaccard` motion); candidates
    are the banded signature equi-join; the confusion join is
    pair-keyed over two already-small pair sets, then a 3-scalar
    agg. At 100 TB you'd sample doc buckets rather than evaluate the
    full corpus — the operator is bucket-composable by construction
    (every stage keys on doc_id-derived values)."""
    truth = _pair_graph_pinned(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_truth")
    )
    cand = _mh_cand_pinned(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_cand")
    )
    u = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_truth"), F.lit(False)).alias("in_truth"),
        F.coalesce(F.col("in_cand"), F.lit(False)).alias("in_cand"),
    )
    m = u.agg(
        F.sum(F.when(F.col("in_truth") & F.col("in_cand"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("in_truth") & ~F.col("in_cand"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("in_cand") & ~F.col("in_truth"), 1).otherwise(0)).alias("fp"),
    )
    return m.select(
        "tp",
        "fn",
        "fp",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000 div (tp + fp)"),
        ).alias("precision_permille"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000 div (tp + fn)"),
        ).alias("recall_permille"),
    )


# -------------------------------------- per-doc duplication profile

_DUP_PROFILE_ORACLE = f"""
WITH {_SHINGLE_CTE},
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1000 // count(*)
            AS BIGINT) AS dup_permille
FROM sh JOIN df USING (s)
GROUP BY sh.doc_id
"""


@register("ext_doc_dup_profile", oracle=_DUP_PROFILE_ORACLE)
def ext_doc_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication profile: the fraction of a document's
    word-3-grams that appear in ANY other document (CCNet's per-doc
    duplicate-ratio curation signal — scored per doc, unlike
    `ext_dedup_passage` which rewrites the corpus, and unlike
    `ext_dedup_cluster_census` which profiles whole-doc clusters).
    High dup_permille = boilerplate/template suspect even when no
    single pair crosses a near-dup threshold. Docs with < 3 words
    have no shingles and are omitted (same rule as the miners).

    Exactness: counts are BIGINTs, the ratio is an integer
    floor-division in permille. A shingle with df ≥ 2 counts as
    shared for EVERY doc carrying it, including exact-dup twins.

    Scale shape: the shared-shingle signal reuses the one
    shingle-keyed count shuffle every dedup op here pays, then one
    shingle-keyed join back and a doc-keyed agg — no pair space at
    all, strictly cheaper than any pairwise miner. At 100 TB the df
    table is the corpus's distinct-shingle census; a bloom filter
    over df≥2 shingles turns the join into a map-side probe."""
    sh = _shingles_pinned(spark, sf_dir)
    df = sh.groupBy("s").agg(F.count("*").alias("df"))
    shared = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.expr("n_shared * 1000 div n_shingles").alias("dup_permille"),
        )
    )


# -------------------------------------- near-dup component census

_COMP_CENSUS_ORACLE = f"""
WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
cs AS (SELECT component, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY 1)
SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM cs GROUP BY 1
"""


@register("ext_dedup_component_census", oracle=_COMP_CENSUS_ORACLE)
def ext_dedup_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup cluster-size histogram: the `ext_dedup_cluster_census`
    shape over transitive near-dup components instead of exact-hash
    clusters — together they bracket the corpus's duplication
    spectrum (exact twins vs template families), and the delta
    between the two tables is itself the template-rewrite signal a
    data card should quote.

    Scale shape: pair miner (sub-quadratic) → LSS components
    (O(log² n) rounds of (id, id) motion) → component-keyed count →
    size-keyed count over the already-component-sized table. The
    histogram stages add two tiny keyed aggs on top of machinery
    the dedup chain already pays for — and the component frame
    itself is the SHARED `_lss_components_shared` pin, so a session
    that also runs `ext_dedup_components_lss` computes the pair
    graph + star contraction once, not twice (r8/r9 verdict item)."""
    comp = _lss_components_shared(spark, sf_dir)
    cs = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return cs.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"), F.sum("sz").alias("n_docs")
    )


# ------------------------------------ cross-source priority survivorship

# Source priority: lower src number = more curated feed wins (the
# "curated beats crawl" rule used when merging CC dumps with curated
# corpora). Cluster key here = 3-token content prefix (a deterministic
# stand-in for the near-dup cluster id `ext_dedup_minhash` /
# `ext_dedup_components` would feed in production — the survivorship
# logic is identical, only the key column changes).
_XSRC_ORACLE = """
WITH k AS (
  SELECT doc_id, source,
         coalesce(TRY_CAST(replace(source, 'src', '') AS BIGINT),
                  4611686018427387904) AS prio,
         array_to_string((string_split(text, ' '))[1:3], ' ') AS fp_prefix
  FROM documents
),
r AS (
  SELECT doc_id, source, fp_prefix,
         row_number() OVER (PARTITION BY fp_prefix
                            ORDER BY prio, doc_id) AS rn
  FROM k
)
SELECT doc_id, source, fp_prefix, rn = 1 AS keep FROM r
"""


@register("ext_dedup_cross_source", oracle=_XSRC_ORACLE)
def ext_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source survivorship: when the same content arrives from
    multiple feeds, exactly one copy survives, chosen by source
    priority (curated > crawl) with doc_id as the total-order tie
    break — the merge rule every multi-source corpus release needs
    on top of plain dedup (which only says WHAT is duplicated, not
    WHO wins). Non-survivors stay in the output flagged keep=false,
    so provenance audits can count per-source losses.

    Scale shape: the winner per cluster key is `min(struct(prio,
    doc_id))` — an ALGEBRAIC aggregate with map-side partial combine,
    so a viral key (the same boilerplate from every feed) reduces
    locally on every task instead of funneling into one window task
    (the window form's hot-key hazard); the flag then derives from an
    fp-keyed equi-join of the (fp, winner) table back to the slim
    (doc_id, source, fp) projection — both sides hash on fp, AQE
    splits residual skew. Text never moves: the key is computed in
    the scan. The join is NULL-SAFE (<=>): a NULL-text document has
    a NULL cluster key, and both engines group all NULL keys into
    ONE cluster (DuckDB's PARTITION BY does; so does groupBy) — a
    plain equi-join would silently drop those rows (the
    ext_dataset_diff defect class this round fixed)."""
    d = load(spark, sf_dir, "documents")
    # try_cast + explicit fallback, NOT a bare cast: a source name
    # outside the documented 'srcN' scheme would otherwise kill the
    # whole job (ANSI CAST_INVALID_INPUT — r7 degenerate-input
    # sweep). Unknown sources rank LAST (2^62), tie-broken by
    # doc_id; coalesce rather than NULL prio because the engines
    # disagree on NULL sort order (Spark ASC=NULLS FIRST, DuckDB
    # ASC=NULLS LAST).
    k = d.select(
        "doc_id",
        "source",
        F.coalesce(
            F.expr("try_cast(replace(source, 'src', '') AS BIGINT)"),
            F.lit(1 << 62).cast("long"),
        ).alias("prio"),
        # NULL text => NULL key (concat_ws alone would fold NULL to ''
        # while the oracle's array_to_string keeps NULL)
        F.when(
            F.col("text").isNull(), F.lit(None).cast("string")
        )
        .otherwise(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3)))
        .alias("fp_prefix"),
    )
    # groupBy puts all NULL keys in one group (matching the oracle's
    # PARTITION BY); the join back must be NULL-SAFE or those rows
    # vanish. Spark plans `<=>` as a regular hash join (measured at
    # parity with a plain equi-join at sf0.1) — no sentinel needed.
    winners = k.groupBy("fp_prefix").agg(
        F.min(F.struct("prio", "doc_id")).alias("w")
    ).withColumnRenamed("fp_prefix", "w_fp")
    return (
        k.join(winners, F.col("fp_prefix").eqNullSafe(F.col("w_fp")))
        .select(
            "doc_id",
            "source",
            "fp_prefix",
            ((F.col("prio") == F.col("w.prio")) & (F.col("doc_id") == F.col("w.doc_id"))).alias(
                "keep"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span profiling (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): document-level and passage-level
# dedup say WHETHER a document is duplicated; span profiling says HOW
# MUCH of it is — the fraction of k-gram positions that also occur in
# at least one OTHER document. That per-doc fraction is the standard
# gate for partial-overlap boilerplate (headers, navigation chrome,
# license blocks) that survives document-level dedup.

DUP_SPAN_K = 5  # word 5-grams, the paper's short-span regime


def _dup_span_gram_expr() -> str:
    """Positional word-5-gram array (NOT distinct — every position
    counts toward coverage); `gram_array_expr` is the one device."""
    return gram_array_expr(DUP_SPAN_K)


_DUP_SPAN_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    f"grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - {DUP_SPAN_K - 2}), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g "
    "FROM toks), "
    "dg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g), "
    "gd AS (SELECT g, count(*) AS n_docs FROM dg GROUP BY g), "
    "per_doc AS (SELECT dg.doc_id, sum(dg.c) AS n_grams, "
    "sum(CASE WHEN gd.n_docs >= 2 THEN dg.c ELSE 0 END) AS dup_positions "
    "FROM dg JOIN gd USING (g) GROUP BY dg.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams, "
    "CAST(coalesce(p.dup_positions, 0) AS BIGINT) AS dup_positions, "
    "CASE WHEN coalesce(p.n_grams, 0) > 0 "
    "THEN round(CAST(p.dup_positions AS DOUBLE) / p.n_grams, 6) ELSE 0.0 END AS dup_frac "
    "FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"
)


@register("ext_dup_span_profile", oracle=_DUP_SPAN_ORACLE)
def ext_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of word-
    5-gram POSITIONS whose gram occurs in >= 2 distinct documents
    (Lee et al. 2022's dup-span metric; the reference has no
    counterpart — EXT tier). Output: (doc_id, n_grams,
    dup_positions, dup_frac) for EVERY document, zero-filled for
    docs shorter than 5 tokens, dup_frac rounded to 6dp.

    Scale shape: grams are hashed to 60-bit ints IN THE SCAN
    (`_salted_hash`), so no shuffle ever carries gram text — the
    whole pipeline moves (hash, doc_id, count) triples. Aggregation
    is two hash-aggs over the same key prefix — per-(gram, doc)
    position counts, then per-gram doc counts — and the join back is
    gram-keyed on both sides, so AQE reuses the exchange. The final
    per-doc rollup shuffles one compact row per (doc, distinct gram).
    No all-pairs anywhere; a boilerplate gram shared by a million
    docs costs one hash-agg row per doc, with map-side partial
    combine absorbing in-doc repeats. (Oracle compares raw gram
    strings; the Spark key is the 120-bit `_salted_hash_pair` since
    r11 — a mined TRUE 60-bit collision proved the old single-column
    key silently merged distinct grams, an exposure worth ~4e5 merges
    at 100 TB gram counts; the pair key needs a 120-bit md5
    collision, the `ext_dedup_exact` sha2-caveat class.)"""
    d = _load_docs(spark, sf_dir)
    gh, gh2 = _salted_hash_pair(F.lit("sp"), F.col("g"))
    grams = (
        d.withColumn("tk", _tokens(F.col("text")))
        .select("doc_id", F.explode_outer(F.expr(_dup_span_gram_expr())).alias("g"))
        .filter(F.col("g").isNotNull())
        # 120-bit (gh, gh2) pair key from one md5 — see _salted_hash_pair
        .select("doc_id", gh.alias("gh"), gh2.alias("gh2"))
    )
    # (gram-hash, doc, count) feeds the doc-frequency branch AND the
    # join-back — pin it or both replay the scan-hash-explode chain
    # (r6 scan audit)
    dg = compute_once(
        grams.groupBy("gh", "gh2", "doc_id").agg(F.count("*").alias("c"))
    )
    gd = dg.groupBy("gh", "gh2").agg(F.count("*").alias("n_docs"))
    per_doc = (
        dg.join(gd, ["gh", "gh2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0)).alias(
                "dup_positions"
            ),
        )
    )
    base = load(spark, sf_dir, "documents").select("doc_id")
    n = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    dup = F.coalesce(F.col("dup_positions"), F.lit(0)).cast("long")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        n.alias("n_grams"),
        dup.alias("dup_positions"),
        F.when(n > 0, F.round(dup.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — the storage-dedup device
# (rsync/LBFS/restic) applied to text: chunk boundaries are declared
# wherever a WORD's hash hits a modulus, so identical passages align
# to identical chunks regardless of what was inserted or deleted
# around them. Fixed-size passage dedup (`ext_dedup_passage`) breaks
# on a one-word insertion — every downstream passage shifts; CDC
# re-synchronizes at the next boundary word.

CDC_MODULUS = 8  # expected chunk length in words


_CDC_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "pw AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), "
    "i -> {'pos': i, 'w': t[i]})) AS s FROM toks), "
    "p AS (SELECT doc_id, s.pos AS pos, s.w AS w FROM pw), "
    f"b AS (SELECT doc_id, pos, w, CASE WHEN {_salted_hash_sql(chr(39) + 'cdc' + chr(39), 'w')} "
    f"% {CDC_MODULUS} = 0 THEN 1 ELSE 0 END AS bd FROM p), "
    "c AS (SELECT doc_id, pos, w, sum(bd) OVER (PARTITION BY doc_id ORDER BY pos) "
    "AS chunk_id FROM b), "
    # ORDER BY (pos, w), not pos alone: under PK-violating duplicate
    # doc_id rows two DIFFERENT words can share a pos, and the Spark
    # side's array_sort(collect_list(struct(pos, w))) totals that tie
    # (r11 extended --dups gate finding; value-neutral on unique-PK
    # corpora where (doc_id, pos) is unique)
    "ch AS (SELECT doc_id, chunk_id, md5(string_agg(w, ' ' ORDER BY pos, w)) AS chash "
    "FROM c GROUP BY doc_id, chunk_id), "
    "gd AS (SELECT chash, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chash), "
    "per AS (SELECT ch.doc_id, count(*) AS n_chunks, "
    "sum(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS dup_chunks "
    "FROM ch JOIN gd USING (chash) GROUP BY ch.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p2.n_chunks, 0) AS BIGINT) AS n_chunks, "
    "CAST(coalesce(p2.dup_chunks, 0) AS BIGINT) AS dup_chunks, "
    "CASE WHEN coalesce(p2.n_chunks, 0) > 0 "
    "THEN round(CAST(p2.dup_chunks AS DOUBLE) / p2.n_chunks, 6) ELSE 0.0 END AS dup_chunk_frac "
    "FROM documents d LEFT JOIN per p2 ON d.doc_id = p2.doc_id"
)


@register("ext_dedup_cdc", oracle=_CDC_ORACLE)
def ext_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup profile: per document, how many
    of its CDC chunks (variable-size word runs cut where
    hash(word) % 8 == 0) also occur in at least one other document.
    Complements `ext_dup_span_profile` (every k-gram position — dense
    but k-bounded) and `ext_dedup_passage` (fixed windows — cheap but
    shift-fragile): CDC finds arbitrarily LONG shared passages and
    survives insertions, at one chunk row per ~8 words.

    Scale shape: per-doc prefix-sum window (bounded by document
    length — a sort run per doc, never global), then chunks reduce to
    md5 digests in the same agg that assembles them, so the
    cross-doc duplicate mining shuffles 32-byte digests, not chunk
    text. `array_sort(collect_list(struct(pos, w)))` makes the
    within-chunk order deterministic under any partitioning (plain
    collect_list order is not a contract). Boundary hashing reuses
    the engine-portable salted-md5 device."""
    d = _load_docs(spark, sf_dir)
    p = d.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "w")
    )
    bd = (_salted_hash(F.lit("cdc"), F.col("w")) % CDC_MODULUS == 0).cast("int")
    from pyspark.sql import Window as W

    # RANGE frame (the ORDER BY default on BOTH engines), not ROWS:
    # under PK-violating duplicate doc_id rows two words share a pos,
    # and a ROWS running sum assigns tied rows order-dependent
    # chunk_ids (engine- and partitioning-nondeterministic) where the
    # peers-inclusive RANGE frame gives every tied row the same
    # deterministic value — the r11 extended --dups gate finding;
    # identical on unique-PK corpora where (doc_id, pos) is unique
    cw = W.partitionBy("doc_id").orderBy("pos")
    c = p.select("doc_id", "pos", "w", F.sum(bd).over(cw).alias("chunk_id"))
    # (doc, chunk, digest) feeds the duplicate census AND the
    # join-back — pin it or both replay the explode-window-digest
    # chain (r6 scan audit)
    ch = compute_once(
        c.groupBy("doc_id", "chunk_id").agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"
                    ),
                )
            ).alias("chash")
        )
    )
    gd = ch.groupBy("chash").agg(F.countDistinct("doc_id").alias("nd"))
    per = (
        ch.join(gd, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("dup_chunks"),
        )
    )
    base = load(spark, sf_dir, "documents").select("doc_id")
    n = F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long")
    dup = F.coalesce(F.col("dup_chunks"), F.lit(0)).cast("long")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        n.alias("n_chunks"),
        dup.alias("dup_chunks"),
        F.when(n > 0, F.round(dup.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_chunk_frac"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup: `ext_dedup_incremental`'s
# docstring promises "a bloom filter built from the base corpus
# pre-drops the ~99% of increment rows that match nothing before the
# join" — this operator BUILDS that filter, with the false-positive
# behavior exact and driver-checkable (bloom membership is a pure
# deterministic function of the hash family, so the FP set itself is
# part of the contract, not noise).

BLOOM_BITS_M = 2048  # deliberately small so fixture-visible FPs exist
BLOOM_K = 3  # hash family size


_BLOOM_CTES = (
    "fp AS (SELECT doc_id, sha256(text) AS h, "
    f"{doc_bucket_sql('doc_id')} AS b FROM documents), "
    f"basefp AS (SELECT DISTINCT h FROM fp WHERE b < {INCR_BASE_BUCKETS}), "
    f"incr AS (SELECT doc_id, h FROM fp WHERE b >= {INCR_BASE_BUCKETS}), "
    "bits AS (SELECT DISTINCT bit FROM basefp, (VALUES (0), (1), (2)) s(j), "
    f"LATERAL (SELECT {_salted_hash_sql('s.j', 'h')} % {BLOOM_BITS_M} AS bit) t), "
    "probe AS (SELECT doc_id, h, "
    f"{_salted_hash_sql('0', 'h')} % {BLOOM_BITS_M} AS p0, "
    f"{_salted_hash_sql('1', 'h')} % {BLOOM_BITS_M} AS p1, "
    f"{_salted_hash_sql('2', 'h')} % {BLOOM_BITS_M} AS p2 FROM incr), "
    "hits AS (SELECT doc_id, h, "
    "(EXISTS (SELECT 1 FROM bits WHERE bit = p0) AND "
    " EXISTS (SELECT 1 FROM bits WHERE bit = p1) AND "
    " EXISTS (SELECT 1 FROM bits WHERE bit = p2)) AS maybe_dup FROM probe)"
)

_BLOOM_ORACLE = (
    f"WITH {_BLOOM_CTES} "
    "SELECT hits.doc_id, hits.maybe_dup, "
    "EXISTS (SELECT 1 FROM basefp WHERE basefp.h = hits.h) AS dup_of_base, "
    "(hits.maybe_dup AND NOT EXISTS (SELECT 1 FROM basefp WHERE basefp.h = hits.h)) "
    "AS false_positive "
    "FROM hits"
)


@register("ext_dedup_incremental_bloom", oracle=_BLOOM_ORACLE)
def ext_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with the bloom prefilter built for real:
    the base corpus's fingerprints set K=3 salted-hash bits in an
    M=2048-bit filter; every increment document probes its 3 bits
    and only "maybe" rows would continue to the exact fingerprint
    join. Emits the full audit per increment doc — bloom verdict,
    exact verdict, and the false-positive flag — so the filter's
    measured FP rate is itself oracle-checked (membership is a pure
    function of the hash family: the FP SET is deterministic, which
    is what makes a bloom filter safe to ship in a query plan).
    M is fixture-small on purpose; production sizes M for the
    classic (1-e^{-kn/m})^k target rate.

    Scale shape: the bit set is AT MOST M rows regardless of corpus
    size — broadcast to every probe task, so the prefilter is
    MAP-SIDE (zero shuffle of the increment); only bloom survivors
    would pay the exact join's shuffle. This is precisely the
    bloom-as-plan-operator device Spark itself applies in
    runtime-filtered joins, materialized at the application level.
    (Oracle probes raw sha256 strings: identical absent SHA-256
    collisions.)"""
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket("doc_id")
    # the fingerprint frame splits into base/increment arms and the
    # base arm feeds both the bit set and the exact join — pin both
    # frames or each consumer replays the scan-sha2 chain (r6 scan
    # audit: 3 document scans before, 1 after)
    fp = compute_once(
        d.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("h"), bucket.alias("b")
        )
    )
    basefp = compute_once(
        fp.filter(F.col("b") < INCR_BASE_BUCKETS).select("h").distinct()
    )
    incr = fp.filter(F.col("b") >= INCR_BASE_BUCKETS).select("doc_id", "h")
    bit = lambda j: (_salted_hash(F.lit(str(j)), F.col("h")) % BLOOM_BITS_M)
    bits = (
        basefp.select(
            F.explode(F.array(*[bit(j) for j in range(BLOOM_K)])).alias("bit")
        )
        .distinct()
        .withColumn("present", F.lit(True))
    )
    probe = incr.select(
        "doc_id",
        "h",
        F.explode(
            F.array(*[bit(j).alias(f"p{j}") for j in range(BLOOM_K)])
        ).alias("bit"),
    )
    bloomed = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "h")
        .agg(
            (F.count(F.when(F.col("present"), 1)) == BLOOM_K).alias("maybe_dup")
        )
    )
    # NO broadcast hint on the exact side: base fingerprints are
    # corpus-sized at scale — the exact join takes the bucketed
    # layout of `ext_dedup_incremental_bucketed`; only `bits`
    # (<= M rows by construction) is broadcast-safe
    exact = basefp.withColumn("dup", F.lit(True))
    return (
        bloomed.join(exact, "h", "left")
        .select(
            "doc_id",
            "maybe_dup",
            F.coalesce(F.col("dup"), F.lit(False)).alias("dup_of_base"),
            (F.col("maybe_dup") & F.coalesce(~F.col("dup"), F.lit(True))).alias(
                "false_positive"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
# the MOSS algorithm): from the rolling k-gram hash stream, keep the
# minimum hash of every w-gram window (rightmost on ties). Guarantees
# any shared substring of length >= w+k-1 words contributes at least
# one IDENTICAL selected fingerprint to both documents, at ~2/(w+1)
# the density of the full gram stream — the principled way to shrink
# `ext_fingerprint`-style indexes without losing match coverage
# (`ext_dedup_cdc` bounds chunk size probabilistically; winnowing
# bounds the maximum unfingerprinted gap EXACTLY at w).

WINNOW_K = 3  # word k-grams
WINNOW_W = 4  # window of consecutive gram positions


_WINNOW_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    f"pw AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - {WINNOW_K - 2}), "
    "i -> {'pos': i, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]})) AS s FROM toks), "
    f"h AS (SELECT doc_id, s.pos AS pos, {_salted_hash_sql(chr(39) + 'wn' + chr(39), 's.g')} AS gh, "
    "count(*) OVER (PARTITION BY doc_id) AS m FROM pw), "
    "sel AS (SELECT doc_id, m, "
    f"min({{'h': gh, 'negpos': -pos}}) OVER (PARTITION BY doc_id ORDER BY pos "
    f"ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS w, pos FROM h) "
    f"SELECT DISTINCT doc_id, CAST(w.h AS BIGINT) AS fp, CAST(-w.negpos AS BIGINT) AS pos "
    f"FROM sel WHERE pos >= least({WINNOW_W}, m)"
)


@register("ext_fingerprint_winnow", oracle=_WINNOW_ORACLE)
def ext_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints: (doc_id, fp, pos) rows where
    fp is the minimum 60-bit gram hash of each w=4 window over the
    word-3-gram stream, rightmost-on-ties (min(struct(h, -pos))) —
    MOSS's guarantee that matching passages of >= w+k-1 words always
    share a fingerprint, at a fraction of the gram-index cost.
    Documents with fewer than w grams contribute their single global
    minimum (the clipped first full window).

    Scale shape: grams hash in the scan; ONE doc-keyed window with a
    bounded ROWS frame — w is a CONSTANT (4), so the non-invertible
    min costs O(m x w) per doc with w fixed, linear in practice and
    per-doc-bounded (no global sort). The DISTINCT collapse of
    adjacent windows selecting the same gram is the density
    guarantee, and the output shuffles 8-byte fingerprints."""
    from pyspark.sql import Window as W

    d = _load_docs(spark, sf_dir)
    pw = d.withColumn("tk", _tokens(F.col("text"))).select(
        "doc_id",
        F.posexplode(F.expr(gram_array_expr(WINNOW_K))).alias("pos0", "g"),
    )
    h = pw.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        _salted_hash(F.lit("wn"), F.col("g")).alias("gh"),
        F.count("*").over(W.partitionBy("doc_id")).alias("m"),
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = h.select(
        "doc_id",
        "pos",
        "m",
        F.min(
            F.struct(F.col("gh").alias("h"), (-F.col("pos")).alias("negpos"))
        )
        .over(win)
        .alias("w"),
    )
    return (
        sel.filter(F.col("pos") >= F.least(F.lit(WINNOW_W), F.col("m")))
        .select(
            "doc_id",
            F.col("w.h").alias("fp"),
            (-F.col("w.negpos")).alias("pos"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# LSH parameter planner: for every (bands, rows) factorization of the
# signature budget, the collision S-curve p(s) = 1 - (1 - s^r)^b
# evaluated at the operating threshold's shoulders — the knob table an
# engineer reads BEFORE committing a banding to a 100 TB dedup run
# (`ext_dedup_minhash_eval` measures the curve empirically AFTER; this
# derives it analytically for every available knob).

LSH_PLAN_TAU = 0.5  # operating similarity threshold to plan around


_LSH_PLAN_ORACLE = f"""
WITH cfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS b),
p AS (SELECT b, {N_MINHASH} // b AS r FROM cfg)
SELECT b AS bands, r AS rows_per_band,
       round(1 - pow(1 - pow({LSH_PLAN_TAU} - 0.2, r), b), 6) AS p_below,
       round(1 - pow(1 - pow({LSH_PLAN_TAU}, r), b), 6) AS p_at_tau,
       round(1 - pow(1 - pow({LSH_PLAN_TAU} + 0.2, r), b), 6) AS p_above,
       round((1 - pow(1 - pow({LSH_PLAN_TAU} + 0.2, r), b))
             - (1 - pow(1 - pow({LSH_PLAN_TAU} - 0.2, r), b)), 6) AS separation
FROM p
"""


@register("ext_lsh_param_plan", oracle=_LSH_PLAN_ORACLE)
def ext_lsh_param_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic LSH banding plan: for each (b, r) with b x r = 16
    (the signature budget `ext_dedup_minhash` actually uses), the
    collision probability at tau-0.2 / tau / tau+0.2 and the
    shoulder separation — pick the row whose separation is largest
    for a sharp cut, or bias p_below down for precision. Pure
    engine-evaluated arithmetic (pow over a 5-row literal grid), so
    it also doubles as a pow() parity probe between the engines
    (single shared expression trees, 6dp — the PMI contract class).

    Scale: a 5-row constant-folded query; the VALUE is that the
    knob decision for a petabyte dedup is derived inside the same
    engine, versioned with the code that uses it."""
    cfg = literal_frame(spark, [(b,) for b in (1, 2, 4, 8, 16)], "b int")
    r = (F.lit(N_MINHASH) / F.col("b")).cast("int")

    def p_at(s: float):
        return 1 - F.pow(1 - F.pow(F.lit(s), r.cast("double")), F.col("b").cast("double"))

    lo, mid, hi = LSH_PLAN_TAU - 0.2, LSH_PLAN_TAU, LSH_PLAN_TAU + 0.2
    return cfg.select(
        F.col("b").cast("int").alias("bands"),
        r.alias("rows_per_band"),
        F.round(p_at(lo), 6).alias("p_below"),
        F.round(p_at(mid), 6).alias("p_at_tau"),
        F.round(p_at(hi), 6).alias("p_above"),
        F.round(p_at(hi) - p_at(lo), 6).alias("separation"),
    )


# ---------------------------------------------------------------------------
# LSH bucket-occupancy census: the health check run on a banded index
# before mining — a bucket of size m yields C(m,2) candidate pairs,
# so one viral bucket IS the runtime; this histogram is how that gets
# caught (and how LSH_BUCKET_CAP-style salting thresholds are chosen)
# before a petabyte job is launched.

_LSH_CENSUS_ORACLE = (
    f"WITH {_SHINGLE_CTE}, {_MH_CAND_CTES}, "
    "bs AS (SELECT band_id, band_hash, count(*) AS bucket_size "
    "FROM banded GROUP BY band_id, band_hash) "
    "SELECT CAST(band_id AS INT) AS band_id, CAST(bucket_size AS BIGINT) AS bucket_size, "
    "CAST(count(*) AS BIGINT) AS n_buckets, "
    "CAST(count(*) * (bucket_size * (bucket_size - 1) // 2) AS BIGINT) AS pair_cost "
    "FROM bs GROUP BY band_id, bucket_size"
)


@register("ext_lsh_bucket_census", oracle=_LSH_CENSUS_ORACLE)
def ext_lsh_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histogram of the banded MinHash index
    (`ext_dedup_minhash`'s own bands, via the shared
    `_banded_signatures` core — the census can never drift from the
    miner): per (band, bucket_size), how many buckets and the
    candidate-pair cost they imply (n x C(size, 2)). A heavy tail
    here means salt-or-cap before mining; `ext_lsh_param_plan` picks
    the banding, this audits what the data did with it.

    Scale shape: two stacked hash aggs over (band, band_hash) then
    (band, size) — the same keys the miner itself groups on, compact
    32-byte bucket keys, map-side combine throughout, output bounded
    by bands x distinct sizes. Strictly cheaper than the mining join
    it de-risks."""
    banded = _bands_from_sigs(_mh_sigs_pinned(spark, sf_dir))
    bs = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    # size*(size-1) is always even => the halving stays in exact
    # integer arithmetic (a double /2 would round pair counts above
    # 2^53 — precisely the viral buckets this census exists to catch)
    return bs.groupBy("band_id", "bucket_size").agg(
        F.count("*").alias("n_buckets"),
        (
            F.count("*")
            * F.expr("bucket_size * (bucket_size - 1) div 2")
        )
        .cast("long")
        .alias("pair_cost"),
    )


# ------------------------------------------------- triangle counting

_TRI_ORACLE = f"""
WITH {_JACCARD_EDGES_CTE},
tri AS (SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
        FROM edges e1 JOIN edges e2 ON e2.doc_a = e1.doc_b
        JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
tnodes AS (SELECT unnest([u, v, w]) AS doc_id FROM tri),
nt AS (SELECT doc_id, count(*) AS n_tri FROM tnodes GROUP BY doc_id),
deg AS (SELECT doc_id, count(*) AS degree FROM (
          SELECT doc_a AS doc_id FROM edges
          UNION ALL SELECT doc_b AS doc_id FROM edges) GROUP BY doc_id)
SELECT nt.doc_id AS doc_id, degree, n_tri,
       round(2.0 * n_tri / (degree * (degree - 1)), 6) AS lcc
FROM nt JOIN deg ON deg.doc_id = nt.doc_id
"""


@register("ext_graph_triangle_count", oracle=_TRI_ORACLE)
def ext_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over the near-dup similarity graph — the transitivity audit that
    separates genuine duplicate CLUSTERS (near-dup is ~transitive:
    high LCC) from banding noise (spurious edges close no triangles).
    Run after `ext_graph_degree_census`: a heavy degree tail with LOW
    clustering means hub edges are artifacts, not template families.

    Physical strategy is the Cohen / Suri-Vassilvitskii degree-ordered
    wedge join: orient every edge from its lower-(degree, id) endpoint
    to the higher one — an acyclic orientation under which each
    triangle is generated EXACTLY once, and (the scale point) each
    node's out-degree is bounded by O(sqrt(|E|)) regardless of hub
    size, so the wedge self-join is skew-resistant where the naive
    id-orientation would square the hottest hub's degree. Per-node
    participation counts are orientation-INVARIANT (each triangle
    credits all three corners), which is what lets the oracle use the
    simple id-orientation and still hash-match bit for bit.

    Scale shape: edges come from the sub-quadratic banded miner (never
    all-pairs); degrees are one keyed agg; the wedge join shuffles
    oriented edges on src and the closing probe shuffles wedges on
    (v, w) — work is O(sum of out-deg^2) = O(|E|^1.5) worst case, the
    textbook bound. LCC is one shared round(2.0*n/(d*(d-1)), 6) tree
    on both engines."""
    # the miner result feeds 3 plan branches (degrees, orientation,
    # closing probe); the session pin materializes the MINING once per
    # session, and the per-query localCheckpoint FLATTENS the pin's
    # embedded plan subtree out of the 3 branches: without it each
    # branch re-plans/codegens the whole pinned-miner subtree — idle
    # A/B at sf0.1 (fresh session, warm pin, 3 reps): pin-direct
    # 11.1/6.2/4.0 s vs flattened 3.1/1.7/1.3 s. The checkpoint
    # itself is one tiny job reading the cached pair list.
    pairs = (
        _pair_graph_pinned(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    pe = (
        pairs.join(
            deg.select(F.col("node").alias("doc_a"), F.col("degree").alias("da")),
            "doc_a",
        ).join(
            deg.select(F.col("node").alias("doc_b"), F.col("degree").alias("db")),
            "doc_b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    o = pe.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    v_first = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & v_first).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    nt = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    return nt.join(
        deg.select(F.col("node").alias("doc_id"), "degree"), "doc_id"
    ).select(
        "doc_id",
        "degree",
        "n_tri",
        F.round(
            2.0 * F.col("n_tri") / (F.col("degree") * (F.col("degree") - 1)), 6
        ).alias("lcc"),
    )


# ------------------------------------------- asymmetric containment

CONTAINMENT_THRESHOLD = 0.5

_CONTAIN_ORACLE = f"""
WITH {_SHINGLE_PAIR_CTES},
c AS (SELECT doc_a, doc_b, i AS shared,
        round(CAST(i AS DOUBLE) / sa.n, 6) AS cont_ab,
        round(CAST(i AS DOUBLE) / sb.n, 6) AS cont_ba
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, shared, cont_ab, cont_ba FROM c
WHERE greatest(cont_ab, cont_ba) >= {CONTAINMENT_THRESHOLD}
"""


@register("ext_dedup_containment", oracle=_CONTAIN_ORACLE)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment |A∩B|/|A| per direction — what
    Jaccard structurally misses: a short document wholly quoted
    inside a long one has tiny Jaccard (union is huge) but
    containment ~1.0 in one direction. This is the doc-pair-level
    quote/subsumption detector (Broder's containment, the measure
    behind eval-set contamination and boilerplate-envelope checks);
    `ext_dup_span_profile` finds the spans, this ranks the pairs.

    Both directions are rounded BEFORE the threshold compare (the
    repo's winsorize lesson: comparing unrounded doubles lets a
    1-ulp divergence flip set membership between engines), and the
    filter keeps pairs where EITHER direction clears 0.5.

    Scale shape: same sub-quadratic shingle equi-join as the Jaccard
    miner (pairs exist only where shingles collide), sizes join back
    broadcast; at production scale this runs as the exact re-scorer
    behind MinHash banding, exactly like the miner it shares its
    plan with."""
    inter, sizes = _shingle_pair_intersections(spark, sf_dir)
    inter = inter.withColumnRenamed("i", "shared")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont_ab = F.round(F.col("shared").cast("double") / F.col("na"), 6)
    cont_ba = F.round(F.col("shared").cast("double") / F.col("nb"), 6)
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            cont_ab.alias("cont_ab"),
            cont_ba.alias("cont_ba"),
        )
        .filter(F.greatest(F.col("cont_ab"), F.col("cont_ba")) >= CONTAINMENT_THRESHOLD)
    )


# --------------------------------------------- neighbor-set Jaccard

_LINKPRED_ORACLE = f"""
WITH {_JACCARD_EDGES_CTE},
adj AS (SELECT doc_a AS u, doc_b AS v FROM edges
        UNION ALL SELECT doc_b AS u, doc_a AS v FROM edges),
deg AS (SELECT u AS doc_id, count(*) AS degree FROM adj GROUP BY u),
cand AS (SELECT a1.v AS x, a2.v AS y, count(*) AS common
         FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
         GROUP BY a1.v, a2.v)
SELECT x AS doc_x, y AS doc_y, common AS common_neighbors,
       e.doc_a IS NULL AS is_new,
       round(CAST(common AS DOUBLE) / (dx.degree + dy.degree - common), 6)
         AS neighbor_jaccard
FROM cand
LEFT JOIN edges e ON e.doc_a = x AND e.doc_b = y
JOIN deg dx ON dx.doc_id = x
JOIN deg dy ON dy.doc_id = y
"""


@register("ext_graph_jaccard_neighbors", oracle=_LINKPRED_ORACLE)
def ext_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard over the near-dup graph — the classic
    common-neighbors link predictor: for every 2-hop pair, the count
    of shared neighbors and |N(x)∩N(y)|/|N(x)∪N(y)|. Pairs NOT yet
    adjacent (`is_new`) are predicted missing duplicates (banding
    recall misses that graph structure recovers — cheaper than
    re-mining with more permissive bands); already-adjacent pairs
    score edge support (the wedge mass behind
    `ext_graph_triangle_count`'s closures).

    Scale shape: candidates come from the wedge join on adjacency
    (2-hop pairs only — never all-pairs; same O(Σdeg²) bound as the
    triangle counter, and at 100 TB the same degree-capping applies),
    one keyed count agg, degree joins, a left join back to edges for
    the is_new flag. |N(x)∪N(y)| = dx + dy - common is exact
    integer arithmetic; the ratio is ONE shared rounded division."""
    # edge list feeds 4 plan branches (adjacency x2, degrees, is_new
    # probe) — the session pin materializes the miner once; the
    # per-query localCheckpoint flattens the pin's embedded plan
    # subtree out of the 4 branches (the ext_graph_triangle_count
    # idle-A/B note)
    pairs = (
        _pair_graph_pinned(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    adj = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = adj.groupBy(F.col("u").alias("doc_id")).agg(
        F.count("*").alias("degree")
    )
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    cand = (
        a1.join(
            a2,
            (F.col("a1.u") == F.col("a2.u")) & (F.col("a1.v") < F.col("a2.v")),
        )
        .groupBy(F.col("a1.v").alias("doc_x"), F.col("a2.v").alias("doc_y"))
        .agg(F.count("*").alias("common_neighbors"))
    )
    e = pairs.select(
        F.col("doc_a").alias("doc_x"),
        F.col("doc_b").alias("doc_y"),
        F.lit(True).alias("adjacent"),
    )
    dx = deg.select(F.col("doc_id").alias("doc_x"), F.col("degree").alias("dx"))
    dy = deg.select(F.col("doc_id").alias("doc_y"), F.col("degree").alias("dy"))
    return (
        cand.join(e, ["doc_x", "doc_y"], "left")
        .join(dx, "doc_x")
        .join(dy, "doc_y")
        .select(
            "doc_x",
            "doc_y",
            "common_neighbors",
            F.col("adjacent").isNull().alias("is_new"),
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("common_neighbors")),
                6,
            ).alias("neighbor_jaccard"),
        )
    )


# -------------------------------------------- idf-weighted Jaccard

WEIGHTED_JACCARD_THRESHOLD = 0.05

_WJACCARD_ORACLE = f"""
WITH {_SHINGLE_CTE},
n AS (SELECT count(*) AS nd FROM documents),
dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
w AS (SELECT s, CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1000.0) AS BIGINT)
        AS iw FROM dfq CROSS JOIN n),
tot AS (SELECT doc_id, CAST(sum(iw) AS BIGINT) AS tw
        FROM sh JOIN w USING (s) GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(sum(w.iw) AS BIGINT) AS wi
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          JOIN w ON w.s = a.s
          GROUP BY 1, 2),
sim AS (SELECT doc_a, doc_b, wi,
          round(CAST(wi AS DOUBLE) / (ta.tw + tb.tw - wi), 6) AS wsim
        FROM inter JOIN tot ta ON ta.doc_id = doc_a
                   JOIN tot tb ON tb.doc_id = doc_b
        WHERE ta.tw + tb.tw - wi > 0)
SELECT doc_a, doc_b, wi AS shared_weight_milli, wsim FROM sim
WHERE wsim >= {WEIGHTED_JACCARD_THRESHOLD}
"""


@register("ext_dedup_weighted_jaccard", oracle=_WJACCARD_ORACLE)
def ext_dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-WEIGHTED shingle Jaccard: Σ idf over shared shingles /
    Σ idf over the union — rare shingles dominate the score, so two
    docs sharing a distinctive passage rank far above two docs
    sharing boilerplate chrome, the failure mode that makes plain
    Jaccard (`ext_dedup_ngram_jaccard`) over-merge template families.
    This is the weighted-resemblance refinement the near-dup
    literature applies when corpora carry heavy boilerplate.

    Exactness device: per-shingle idf ln(N/df) is rounded ONCE into
    BIGINT millis (`ext_tfidf_cosine_pairs`' device one level down
    the n-gram ladder); intersection and per-doc totals are then
    integer sums — order-insensitive under partial aggregation — and
    union weight is ta+tb−wi in exact int64. One shared rounded
    division, rounded BEFORE the threshold compare.

    Scale shape (r14, verdict r13 item 5): the weighted intersection
    now rides the SAME pinned shingle self-join as the unweighted
    miner — `shingle_inter` carries `wi` (Σ idf-milli over shared
    shingles) alongside the count, and `shingle_sizes` carries the
    per-doc total `tw` — so this query no longer re-runs its own
    self-join per invocation (the single most expensive stage in the
    family, previously duplicated here; r13 left-alone note
    retired). Per invocation this is two broadcast joins and the
    threshold filter over the pinned pair frame; at 100 TB the
    weighting stays free at the plan level (the idf join rides the
    pin build's existing shuffles)."""
    inter, sizes = _shingle_pair_intersections(spark, sf_dir)
    ta = sizes.select(F.col("doc_id").alias("doc_a"), F.col("tw").alias("ta"))
    tb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("tw").alias("tb"))
    wsim = F.round(
        F.col("wi").cast("double") / (F.col("ta") + F.col("tb") - F.col("wi")), 6
    )
    return (
        inter.join(F.broadcast(ta), "doc_a")
        .join(F.broadcast(tb), "doc_b")
        # all-ubiquitous-shingle pairs have wi = ta = tb = 0: 0/0 is
        # NaN, and Spark orders NaN ABOVE every number, so without
        # this guard the threshold filter would KEEP the garbage
        # pair (DuckDB's behavior additionally depends on its IEEE
        # division setting — the guard pins both engines)
        .filter(F.col("ta") + F.col("tb") - F.col("wi") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("wi").alias("shared_weight_milli"),
            wsim.alias("wsim"),
        )
        .filter(F.col("wsim") >= WEIGHTED_JACCARD_THRESHOLD)
    )


# ---------------------------------------- first-occurrence novelty

_NOVELTY_ORACLE = f"""
WITH {_SHINGLE_CTE},
fo AS (SELECT s, CAST(min(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY 1),
pd AS (SELECT sh.doc_id,
              CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_novel
       FROM sh JOIN fo ON fo.s = sh.s GROUP BY 1),
b AS (SELECT doc_id, n_grams, n_novel,
             (n_novel * 1000 // n_grams) // 100 AS decile FROM pd)
SELECT CAST(decile AS BIGINT) AS novelty_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_novel) AS BIGINT) AS total_novel,
       CAST(sum(n_grams) AS BIGINT) AS total_grams
FROM b GROUP BY 1
"""


@register("ext_ngram_novelty", oracle=_NOVELTY_ORACLE)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty profile: for each document, the share
    of its distinct word-3-grams whose FIRST appearance (minimum
    doc_id, the ingestion-order stand-in) is this document — bucketed
    into deciles. The information-gain view of the corpus that raw
    dup counts invert: a doc can be 0% pairwise-duplicate yet 5%
    novel (assembled from boilerplate), and the low-decile mass is
    what curriculum ordering and incremental-crawl pruning drop
    first. Descendant of the RETSim/SuffixArray novelty audits in
    dedup literature; `ext_doc_dup_profile` measures COPIED spans,
    this measures NEVER-SEEN-BEFORE vocabulary.

    Exactness: all-integer — first_doc is an exact min, per-doc
    counts are BIGINTs, and the decile is permille integer division
    (novel*1000 div grams) div 100, so no float touches the bucket
    boundary. Docs under {SHINGLE_K} tokens have no grams and are
    out of frame on both engines.

    Scale shape: the gram census (keyed min with map-side partials)
    and the gram-keyed join-back are the exact plan family of the
    miner CTEs this module already carries; per-doc counts and the
    11-key decile rollup follow. No windows, no pair joins — novelty
    is per-gram, not per-pair."""
    sh = _shingles_pinned(spark, sf_dir)
    fo = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    pd_ = (
        sh.join(fo, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    b = pd_.select(
        F.expr("(n_novel * 1000 div n_grams) div 100").alias("novelty_decile"),
        "n_grams",
        "n_novel",
    )
    return b.groupBy("novelty_decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_novel").alias("total_novel"),
        F.sum("n_grams").alias("total_grams"),
    )


# ------------------------------------- edit-distance pair verifier

EDIT_MIN_SHARED = 2  # shingle-intersection floor before levenshtein
EDIT_PREFIX = 64  # chars of text the DP actually sees
EDIT_MAX = 16  # report pairs within this distance


_EDIT_ORACLE = f"""
WITH {_SHINGLE_PAIR_CTES},
cand AS (SELECT doc_a, doc_b FROM inter WHERE i >= {EDIT_MIN_SHARED}),
sc AS (SELECT c.doc_a, c.doc_b,
              levenshtein(substr(da.text, 1, {EDIT_PREFIX}),
                          substr(db.text, 1, {EDIT_PREFIX})) AS edit_distance,
              greatest(octet_length(encode(substr(da.text, 1, {EDIT_PREFIX}))),
                       octet_length(encode(substr(db.text, 1, {EDIT_PREFIX}))), 1) AS norm_len
       FROM cand c
       JOIN documents da ON da.doc_id = c.doc_a
       JOIN documents db ON db.doc_id = c.doc_b)
SELECT doc_a, doc_b, CAST(edit_distance AS BIGINT) AS edit_distance,
       round(1.0 - edit_distance * 1.0 / norm_len, 6) AS prefix_sim
FROM sc WHERE edit_distance <= {EDIT_MAX}
"""


@register("ext_dedup_edit_distance", oracle=_EDIT_ORACLE)
def ext_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification over shingle-mined candidates: the
    typo/near-miss dedup layer token-level Jaccard is blind to
    ("recieve" vs "receive" shares no trigram context but is one
    edit away). Pairs sharing >= {EDIT_MIN_SHARED} shingles get a
    Levenshtein pass over their first {EDIT_PREFIX} chars; pairs
    within {EDIT_MAX} edits report with a normalized prefix
    similarity. Mirrors the candidates->exact-verify architecture of
    every miner here (`ext_dedup_minhash` -> Jaccard), with edit
    distance as the verifier.

    Cost control is explicit, not accidental: Levenshtein is
    O(len a · len b) PER PAIR, so the DP runs only on (a) pairs the
    sub-quadratic shingle join surfaced, (b) with an intersection
    floor, (c) over a fixed {EDIT_PREFIX}-char prefix — bounding
    each evaluation at {EDIT_PREFIX}^2 cell updates regardless of
    document length. Both engines run their native in-engine
    levenshtein (Spark's codegen'd builtin vs DuckDB's — classic
    unit-cost DP, integer-exact, no float contract needed); the
    similarity normalizes by the LONGER prefix's actual length
    (r6 review fix — a constant {EDIT_PREFIX} denominator scored
    unrelated short documents near 1), one shared rounded
    division.

    Scale shape: candidate mining is the shared shingle equi-join
    core; the text join-back moves only candidate pairs' prefixes;
    the DP is scan-local per pair."""
    inter, _sizes = _shingle_pair_intersections(spark, sf_dir)
    cand = inter.filter(F.col("i") >= EDIT_MIN_SHARED).select("doc_a", "doc_b")
    # slim (doc_id, 64-char prefix) frame feeds BOTH pair sides —
    # pin it or each side re-scans documents (r6 scan audit)
    # BYTE-domain pin (r7 unicode sweep): DuckDB's levenshtein is
    # byte-based while Spark's is code-point-based — divergent the
    # moment a multi-byte char lands in a prefix. Edit distance here
    # is DEFINED over UTF-8 bytes (the one definition both engines
    # can compute natively): the latin-1 decode views each byte as
    # one code point, so Spark's DP runs byte-level; norm_len is the
    # byte length on both engines. Identity on ASCII text.
    d = compute_once(
        _load_docs(spark, sf_dir).select(
            "doc_id",
            F.decode(
                F.encode(F.substring("text", 1, EDIT_PREFIX), "UTF-8"),
                "ISO-8859-1",
            ).alias("prefix"),
        )
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("long").alias("edit_distance"),
            F.greatest(F.length("pa"), F.length("pb"), F.lit(1)).alias("norm_len"),
        )
        .filter(F.col("edit_distance") <= EDIT_MAX)
        .select(
            "doc_a",
            "doc_b",
            "edit_distance",
            F.round(
                1.0 - F.col("edit_distance") * 1.0 / F.col("norm_len"), 6
            ).alias("prefix_sim"),
        )
    )


# --------------------------------------- cluster diversity indexes

DIVERSITY_SCALE = 1_000_000  # micro fixed-point Shannon terms


_DIVERSITY_ORACLE = f"""
WITH k AS (SELECT {content_fp_sql('text')} AS ckey
           FROM documents),
c AS (SELECT ckey, CAST(count(*) AS BIGINT) AS s FROM k GROUP BY 1),
n AS (SELECT CAST(sum(s) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(max(s) AS BIGINT) AS max_cluster FROM c),
t AS (SELECT CAST(round(ln(CAST(n.n AS DOUBLE) / c.s) * c.s
                        * {DIVERSITY_SCALE}) AS BIGINT) AS term,
             c.s
      FROM c, n),
agg AS (SELECT CAST(sum(term) AS BIGINT) AS tsum,
               CAST(sum(s * (s - 1)) AS BIGINT) AS pair_sum FROM t)
SELECT n.n AS n_docs, n.n_clusters, n.max_cluster,
       round(CAST(agg.tsum AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * {DIVERSITY_SCALE}), 6) AS shannon_nats,
       round(exp(CAST(agg.tsum AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * {DIVERSITY_SCALE})), 6) AS eff_clusters,
       round(CASE WHEN n.n > 1 THEN CAST(agg.pair_sum AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * (n.n - 1)) ELSE 0.0 END, 6)
         AS simpson_concentration
FROM n, agg
"""


@register("ext_cluster_diversity", oracle=_DIVERSITY_ORACLE)
def ext_cluster_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity indexes over the exact-duplicate cluster-size
    distribution: Shannon entropy (and its exponential — the
    EFFECTIVE number of distinct documents) plus Simpson
    concentration (the probability two random docs are copies of
    each other). One row that prices duplication's effect on
    training: a corpus of 1M docs with eff_clusters 200k trains
    like 200k docs (Lee et al. 2022's dedup-improves-LM result,
    as a monitorable scalar); `ext_dedup_cluster_census` gives the
    size histogram, this collapses it into the two standard
    ecology-style indexes drift dashboards want. Cluster key is
    `ext_dedup_cluster_pick`'s normalized-text md5 — the same
    cluster definition, audited not re-invented.

    Exactness: Shannon terms ln(N/s)·s micro-rounded ONCE into
    BIGINT and integer-summed (the entropy-family device); Simpson's
    Σs(s−1) is an exact BIGINT (bound: cluster sizes to ~3e9, then
    pre-scale — documented); both indexes divide exact integers in
    double and round once; the N=1 Simpson guard is shared.

    Scale shape: one ckey-keyed count (map-side partials), one
    cluster-size agg, scalar combines. No windows. The cluster-size
    table is pinned with `compute_once` — the totals and the
    Shannon-term branches otherwise each replay the scan-md5-agg
    chain (r6 scan audit)."""
    d = load(spark, sf_dir, "documents")
    c = compute_once(
        d.select(
            content_fp("text").alias("ckey")
        )
        .groupBy("ckey")
        .agg(F.count("*").alias("s"))
    )
    n = c.agg(
        F.sum("s").alias("n"),
        F.count("*").alias("n_clusters"),
        F.max("s").alias("max_cluster"),
    )
    t = c.crossJoin(F.broadcast(n.select("n"))).select(
        "s",
        F.round(
            F.log(F.col("n").cast("double") / F.col("s"))
            * F.col("s")
            * DIVERSITY_SCALE
        )
        .cast("long")
        .alias("term"),
    )
    agg = t.agg(
        F.sum("term").alias("tsum"),
        F.sum(F.col("s") * (F.col("s") - 1)).alias("pair_sum"),
    )
    h = F.col("tsum").cast("double") / (
        F.col("n").cast("double") * DIVERSITY_SCALE
    )
    return (
        n.crossJoin(F.broadcast(agg))
        .select(
            F.col("n").alias("n_docs"),
            "n_clusters",
            "max_cluster",
            F.round(h, 6).alias("shannon_nats"),
            F.round(F.exp(h), 6).alias("eff_clusters"),
            F.round(
                F.when(
                    F.col("n") > 1,
                    F.col("pair_sum").cast("double")
                    / (F.col("n").cast("double") * (F.col("n") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("simpson_concentration"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-SUBSTRING span coverage (ExactSubstr, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" §4.1):
# the suffix-array family member. The paper builds a corpus suffix
# array and removes every substring of >= L tokens that appears
# twice anywhere in the corpus (including twice in the SAME
# document). A distributed suffix array is the wrong tool on Spark;
# the gram-cover identity gives the identical answer with hash-aggs:
# a token belongs to a duplicated substring of length >= L IFF it is
# covered by some length-L gram that occurs >= 2 times in the corpus
# (a duplicated M >= L substring contains M-L+1 duplicated L-grams
# covering all M tokens; conversely a duplicated L-gram IS such a
# substring). So corpus-total L-gram occurrence counts + per-doc
# interval union = ExactSubstr coverage, exactly.
# Distinct from `ext_dup_span_profile` in BOTH dials: that operator
# counts gram POSITIONS whose gram appears in >= 2 distinct DOCS
# (cross-doc boilerplate rate); this one merges positions into
# maximal spans and counts corpus-wide occurrences (>= 2 anywhere,
# within-doc self-repetition included — the removal semantics).

SUBSTR_L = 8  # the length-threshold L, word-level


def _substr_gram_sql() -> str:
    return " || ' ' || ".join(f"t[p + {o}]" for o in range(SUBSTR_L))


_SUBSTR_SPANS_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(range(1, len(t) - {SUBSTR_L - 2})) AS p, t
        FROM toks WHERE len(t) >= {SUBSTR_L}),
g AS (SELECT doc_id, p, {_substr_gram_sql()} AS g FROM pos),
cg AS (SELECT g, count(*) AS c FROM g GROUP BY g),
dup AS (SELECT DISTINCT doc_id, p FROM g JOIN cg USING (g) WHERE c >= 2),
brk AS (SELECT doc_id, p,
               CASE WHEN p > coalesce(max(p) OVER (PARTITION BY doc_id
                         ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -{SUBSTR_L}) + {SUBSTR_L}
                    THEN 1 ELSE 0 END AS st
        FROM dup),
isl AS (SELECT doc_id, p,
               sum(st) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS iid
        FROM brk),
spans AS (SELECT doc_id, iid, max(p) - min(p) + {SUBSTR_L} AS span_len
          FROM isl GROUP BY doc_id, iid),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(span_len) AS BIGINT) AS dup_tokens,
                   CAST(max(span_len) AS BIGINT) AS longest_span
            FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(len(string_split(d.text, ' ')), 0) AS BIGINT)
         AS n_tokens,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(p.longest_span, 0) AS BIGINT) AS longest_span,
       CASE WHEN coalesce(len(string_split(d.text, ' ')), 0) > 0
            THEN round(coalesce(p.dup_tokens, 0) * 1.0
                       / len(string_split(d.text, ' ')), 6)
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@register("ext_dedup_substr_spans", oracle=_SUBSTR_SPANS_ORACLE)
def ext_dedup_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicated-substring coverage per document (the
    suffix-array dedup variant, via the gram-cover identity in the
    section comment above — no suffix array needed): every position
    covered by a length-{SUBSTR_L} word gram occurring >= 2 times in
    the whole corpus (any doc, any position — within-doc repeats
    count, unlike `ext_dup_span_profile`'s cross-doc rule) is
    duplicated; overlapping/adjacent covered intervals merge into
    maximal spans. Output per doc, zero-filled: (doc_id, n_tokens,
    n_spans, dup_tokens, longest_span, dup_frac) — dup_tokens is
    exactly the token count ExactSubstr would cut.

    Exactness: spans are integer interval arithmetic on exact token
    positions — a position p joins the open span iff
    p <= prev_max_end + 1, i.e. p <= max(prev p) + {SUBSTR_L}, so
    island ids, span lengths, and coverage are engine-identical
    BIGINTs; dup_frac is one rounded division. The Spark side joins
    on the 120-bit `_salted_hash_pair` gram key (since r11: a mined
    TRUE 60-bit collision proved the old single-column key silently
    merged distinct grams — the `ext_dup_span_profile` caveat, now
    closed to the 120-bit md5-collision class) while the oracle
    compares raw gram strings. DISTINCT (doc_id, p) before the
    span merge keeps the windows deterministic under PK-violating
    duplicate doc rows.

    Scale shape: grams hash to two 60-bit ints from ONE md5 IN THE
    SCAN, so no shuffle carries gram text — the census shuffles
    (hash-pair, count) with map-side partial combine absorbing
    boilerplate repeats, and the join back is gram-hash-keyed on
    both sides (AQE reuses the exchange). The interval merge is two
    windows partitioned by doc_id — a sort run bounded by document
    length, never global. No all-pairs stage anywhere; candidate
    volume is positions whose gram census count >= 2, linear in
    corpus size. At 100 TB the census is the one big shuffle and it
    moves 24-byte rows. Reference has no counterpart (EXT tier)."""
    from pyspark.sql import Window as W

    d = _load_docs(spark, sf_dir)
    gh, gh2 = _salted_hash_pair(F.lit("ss"), F.col("g"))
    grams = (
        d.withColumn("tk", _tokens(F.col("text")))
        .select(
            "doc_id",
            F.posexplode_outer(F.expr(gram_array_expr(SUBSTR_L))).alias(
                "i", "g"
            ),
        )
        .filter(F.col("g").isNotNull())
        .select(
            "doc_id",
            (F.col("i") + 1).alias("p"),
            gh.alias("gh"),
            gh2.alias("gh2"),
        )
    )
    # (doc, pos, hash) feeds the corpus census AND the join-back —
    # pin it or both replay the scan-gram-hash chain (r6 scan audit)
    grams = compute_once(grams)
    dup_gh = (
        grams.groupBy("gh", "gh2")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh", "gh2")
    )
    dup = grams.join(dup_gh, ["gh", "gh2"]).select("doc_id", "p").distinct()
    w_prev = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, -1)
    )
    st = F.when(
        F.col("p")
        > F.coalesce(F.max("p").over(w_prev), F.lit(-SUBSTR_L)) + SUBSTR_L,
        1,
    ).otherwise(0)
    w_cum = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    )
    isl = dup.select("doc_id", "p", st.alias("st")).select(
        "doc_id", "p", F.sum("st").over(w_cum).alias("iid")
    )
    spans = isl.groupBy("doc_id", "iid").agg(
        (F.max("p") - F.min("p") + SUBSTR_L).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
        F.max("span_len").cast("long").alias("longest_span"),
    )
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.size(_tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0))
        .cast("long")
        .alias("dup_tokens"),
        F.coalesce(F.col("longest_span"), F.lit(0))
        .cast("long")
        .alias("longest_span"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                * 1.0
                / F.col("n_tokens"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# End-to-end pipeline recall certificate: `ext_dedup_pipeline`
# (exhaustive exact-Jaccard pairs) and `ext_dedup_pipeline_minhash`
# (banded candidates, sub-quadratic) promise to be the same chain
# with the pair stage swapped. `ext_dedup_minhash_eval` certifies
# that swap at the PAIR level; this operator certifies it at the
# OUTPUT level — the surviving corpora themselves. Banded candidate
# pairs are a subset of exact threshold pairs (every candidate is
# re-verified with exact Jaccard), so the banded dup-graph is a
# subgraph: its components refine the exact components, which forces
# two auditable invariants the certificate makes visible —
#   keep_exact <= keep_banded   (finer components => more keepers)
#   keep_common = keep_exact    (an exact keeper is max-ranked in
#                                its component, hence in any banded
#                                subcomponent containing it)
# and the one real quality number: removal_recall_pm, the permille
# of exact-pipeline removals the banded pipeline also removes.

_PIPE_RECALL_ORACLE = f"""
WITH RECURSIVE f AS (SELECT doc_id, text, n_chars FROM documents
          WHERE len(string_split(text, ' ')) >= {E2E_MIN_TOKENS}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM f),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter_e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs_e AS (SELECT doc_a, doc_b FROM inter_e
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
{_MH_CAND_CTES},
inter_b AS (SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
          GROUP BY 1, 2),
pairs_b AS (SELECT doc_a, doc_b FROM inter_b
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
edges_e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs_e
          UNION ALL SELECT doc_b, doc_a FROM pairs_e),
reach_e(node, lbl) AS (
    SELECT doc_id, doc_id FROM f
    UNION
    SELECT e.dst, r.lbl FROM reach_e r JOIN edges_e e ON e.src = r.node
),
comp_e AS (SELECT node AS doc_id, min(lbl) AS component
           FROM reach_e GROUP BY node),
keep_e AS (SELECT doc_id FROM (
    SELECT c.doc_id, row_number() OVER (PARTITION BY c.component
           ORDER BY d.n_chars DESC, c.doc_id) AS rn
    FROM comp_e c JOIN f d ON d.doc_id = c.doc_id) WHERE rn = 1),
edges_b AS (SELECT doc_a AS src, doc_b AS dst FROM pairs_b
          UNION ALL SELECT doc_b, doc_a FROM pairs_b),
reach_b(node, lbl) AS (
    SELECT doc_id, doc_id FROM f
    UNION
    SELECT e.dst, r.lbl FROM reach_b r JOIN edges_b e ON e.src = r.node
),
comp_b AS (SELECT node AS doc_id, min(lbl) AS component
           FROM reach_b GROUP BY node),
keep_b AS (SELECT doc_id FROM (
    SELECT c.doc_id, row_number() OVER (PARTITION BY c.component
           ORDER BY d.n_chars DESC, c.doc_id) AS rn
    FROM comp_b c JOIN f d ON d.doc_id = c.doc_id) WHERE rn = 1),
tot AS (SELECT (SELECT count(*) FROM f) AS n_gated,
               (SELECT count(*) FROM keep_e) AS ke,
               (SELECT count(*) FROM keep_b) AS kb,
               (SELECT count(*) FROM keep_e JOIN keep_b USING (doc_id)) AS kc)
SELECT CAST(n_gated AS BIGINT) AS n_gated,
       CAST(ke AS BIGINT) AS keep_exact,
       CAST(kb AS BIGINT) AS keep_banded,
       CAST(kc AS BIGINT) AS keep_common,
       CAST(n_gated - ke AS BIGINT) AS removed_exact,
       CAST(n_gated - kb AS BIGINT) AS removed_banded,
       CAST((n_gated - kb) * 1000 // nullif(n_gated - ke, 0) AS BIGINT)
         AS removal_recall_pm
FROM tot
"""


@register("ext_dedup_pipeline_recall", oracle=_PIPE_RECALL_ORACLE)
def ext_dedup_pipeline_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-level recall certificate for the production dedup swap:
    runs BOTH end-to-end pipelines — `ext_dedup_pipeline` (exact
    pairs, the oracle-checkable contract) and
    `ext_dedup_pipeline_minhash` (banded candidates, the 100 TB
    shape) — on the same corpus and compares their surviving keeper
    sets (invariants + the headline number in the section comment
    above). One row: (n_gated, keep_exact, keep_banded, keep_common,
    removed_exact, removed_banded, removal_recall_pm). All counts are
    exact BIGINTs (both pipelines are deterministic salted-md5 +
    exact-Jaccard math) and the permille is integer floor division —
    hash-checkable end to end.

    Scale shape: composes the two audited pipeline plans as-is (each
    keeper frame pinned with `compute_once` — it feeds its own count
    AND the agreement join); the comparison itself is three scalar
    aggs plus one keeper-keyed join of two already-deduplicated
    id sets. The exact arm's all-pairs shingle join is the audit's
    cost by definition (you run this certificate on a SAMPLE bucket
    at 100 TB — every stage keys on doc_id-derived values, the
    `ext_dedup_minhash_eval` bucket-composability note applies
    verbatim). Each composed pipeline reads documents once behind
    its own checkpoint, so the scan audit reads clean despite the
    composition."""
    ke = compute_once(
        ext_dedup_pipeline(spark, sf_dir).select(
            F.col("keep_id").alias("doc_id")
        )
    )
    kb = compute_once(
        ext_dedup_pipeline_minhash(spark, sf_dir).select(
            F.col("keep_id").alias("doc_id")
        )
    )
    gated = (
        load(spark, sf_dir, "documents")
        .filter(F.size(_tokens(F.col("text"))) >= E2E_MIN_TOKENS)
        .agg(F.count("*").alias("n_gated"))
    )
    ea = ke.agg(F.count("*").alias("keep_exact"))
    ba = kb.agg(F.count("*").alias("keep_banded"))
    ca = ke.join(kb, "doc_id").agg(F.count("*").alias("keep_common"))
    return (
        gated.crossJoin(ea)
        .crossJoin(ba)
        .crossJoin(ca)
        .select(
            F.col("n_gated").cast("long").alias("n_gated"),
            F.col("keep_exact").cast("long").alias("keep_exact"),
            F.col("keep_banded").cast("long").alias("keep_banded"),
            F.col("keep_common").cast("long").alias("keep_common"),
            (F.col("n_gated") - F.col("keep_exact"))
            .cast("long")
            .alias("removed_exact"),
            (F.col("n_gated") - F.col("keep_banded"))
            .cast("long")
            .alias("removed_banded"),
            F.expr(
                "(n_gated - keep_banded) * 1000"
                " div nullif(n_gated - keep_exact, 0)"
            )
            .cast("long")
            .alias("removal_recall_pm"),
        )
    )


# ------------------- MinHash estimator-error audit (r11 add)

_MH_EST_ORACLE = (
    f"WITH {_SHINGLE_CTE}, {_MH_CAND_CTES}, "
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
    "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "pairs AS (SELECT c.doc_a, c.doc_b, "
    + " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    + " AS matches, coalesce(i.i, 0) AS i, sa.n AS na, sb.n AS nb "
    "FROM cand c JOIN mh a ON a.doc_id = c.doc_a "
    "JOIN mh b ON b.doc_id = c.doc_b "
    "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b "
    "JOIN sizes sa ON sa.doc_id = c.doc_a "
    "JOIN sizes sb ON sb.doc_id = c.doc_b), "
    f"e AS (SELECT matches * 1000 // {N_MINHASH} AS est_pm, "
    "i * 1000 // (na + nb - i) AS exact_pm FROM pairs) "
    "SELECT CAST(abs(est_pm - exact_pm) // 100 AS BIGINT) AS err_decile, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(min(abs(est_pm - exact_pm)) AS BIGINT) AS min_err_pm, "
    "CAST(max(abs(est_pm - exact_pm)) AS BIGINT) AS max_err_pm "
    "FROM e GROUP BY 1"
)


@register("ext_dedup_minhash_est_audit", oracle=_MH_EST_ORACLE)
def ext_dedup_minhash_est_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-error audit: for every banded candidate pair,
    compare the signature-agreement Jaccard estimate (matching
    components / {N}) against the exact shingle Jaccard, reporting the
    absolute-error distribution as a permille-decile histogram —
    `ext_dedup_minhash_eval` certifies the BANDING (who becomes a
    candidate: confusion matrix vs truth); this certifies the
    ESTIMATOR (how wrong matches/{N} is on the pairs the bands
    surface), which is what sizes N_MINHASH: a fat error tail says
    add hash functions before trusting signature-only dedup decisions
    at 100 TB, where the verify join is the cost you're trying to
    skip.

    Exactness: agreement counts are integer sums over deterministic
    salted-md5 signatures (the oracle recomputes all {N} minhashes per
    doc in SQL); est and exact are both permille FLOOR divisions;
    candidate pairs sharing NO shingle (a raw band-hash coincidence)
    read exact_pm = 0 via the LEFT-join coalesce on both engines.

    Scale shape: signatures and candidates come from the session pins
    (one doc-keyed row each — the audit adds two broadcast-ish
    signature joins and one pair-keyed LEFT join against the
    intersection table the Jaccard miner already computes); the
    histogram is a ≤ 11-key agg. Nothing new is quadratic: the pair
    universe is the banded candidate set by construction."""
    cand = _mh_cand_pinned(spark, sf_dir)
    sigs = _mh_sigs_pinned(spark, sf_dir)
    inter, sizes = _shingle_pair_intersections(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_MINHASH)],
    )
    matches = None
    for j in range(N_MINHASH):
        term = (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
        matches = term if matches is None else matches + term
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    p = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            matches.alias("matches"),
            F.coalesce(F.col("i"), F.lit(0)).alias("i"),
            "na",
            "nb",
        )
    )
    e = p.select(
        F.expr(f"matches * 1000 div {N_MINHASH}").alias("est_pm"),
        F.expr("i * 1000 div (na + nb - i)").alias("exact_pm"),
    )
    err = F.abs(F.col("est_pm") - F.col("exact_pm"))
    return (
        e.groupBy(F.expr("abs(est_pm - exact_pm) div 100").cast("long").alias("err_decile"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(err).cast("long").alias("min_err_pm"),
            F.max(err).cast("long").alias("max_err_pm"),
        )
    )


# ------------------------- eval-set n-gram coverage (r11 add)

_EVAL_COVERAGE_ORACLE = (
    f"WITH {_SHINGLE_CTE}, "
    f"ev AS (SELECT doc_id, s FROM sh WHERE doc_id < {EVAL_SET_MAX_ID}), "
    f"corp AS (SELECT DISTINCT s FROM sh WHERE doc_id >= {EVAL_SET_MAX_ID}), "
    "cov AS (SELECT ev.doc_id, count(*) AS n_shingles, "
    "CAST(sum(CASE WHEN corp.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_covered FROM ev LEFT JOIN corp ON corp.s = ev.s GROUP BY 1) "
    "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_covered, "
    "n_covered * 1000 // n_shingles AS coverage_pm FROM cov"
)


@register("ext_eval_coverage", oracle=_EVAL_COVERAGE_ORACLE)
def ext_eval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-item n-gram coverage by the training corpus — the DUAL
    of `ext_contamination_check` (that flags TRAINING docs sharing
    ≥ K shingles with the eval set; this scores each EVAL item by the
    fraction of its own word-3-grams found ANYWHERE in the corpus).
    High coverage_pm marks benchmark items answerable from surface
    memorization even when no single training doc crosses the
    contamination threshold — the per-item decontamination triage
    column (cf. the n-gram-overlap protocols of GPT-3 appx C / PaLM
    §6, applied from the eval side). Same fixture convention:
    doc_id < EVAL_SET_MAX_ID stands in for the benchmark.

    Exactness: counts are BIGINTs over the distinct-per-doc shingle
    relation, coverage a permille floor division; an eval shingle
    counts as covered iff it appears in at least one corpus doc
    (EXISTS via left-join null-probe — identical on both engines).

    Scale shape: the eval side is tiny, so its distinct shingles
    broadcast and the 100 TB corpus side streams through ONE
    map-side semi-join probe (no corpus shuffle — the
    `ext_contamination_check` asymmetry, reversed: here the DISTINCT
    of matched shingles is bounded by the eval set's own size); the
    per-item rollup aggregates eval-sized rows. Reads the session
    shingle pin."""
    sh = _shingles_pinned(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") < EVAL_SET_MAX_ID)
    evs = ev.select("s").distinct()
    matched = (
        sh.filter(F.col("doc_id") >= EVAL_SET_MAX_ID)
        .join(F.broadcast(evs), "s", "left_semi")
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        ev.join(F.broadcast(matched), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_covered",
            F.expr("n_covered * 1000 div n_shingles")
            .cast("long")
            .alias("coverage_pm"),
        )
    )


# ----------- eval coverage decomposed by corpus SOURCE (r12 add —
# r11 verdict item 6a: `ext_eval_coverage` says WHICH eval items are
# surface-covered; this says WHICH CORPUS SOURCES cover them, the
# table a decontamination run actually acts on: drop or downweight a
# source, re-run, watch its rows disappear)

_EVAL_COVERAGE_SRC_ORACLE = (
    f"WITH {_SHINGLE_CTE}, "
    f"ev AS (SELECT doc_id, s FROM sh WHERE doc_id < {EVAL_SET_MAX_ID}), "
    "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles "
    "FROM ev GROUP BY 1), "
    "srcs AS (SELECT DISTINCT sh.s, coalesce(d.source, '') AS source "
    "FROM sh JOIN documents d USING (doc_id) "
    f"WHERE sh.doc_id >= {EVAL_SET_MAX_ID} "
    "AND sh.s IN (SELECT s FROM ev)), "
    "cov AS (SELECT ev.doc_id, srcs.source, "
    "CAST(count(*) AS BIGINT) AS n_covered "
    "FROM ev JOIN srcs ON srcs.s = ev.s GROUP BY 1, 2) "
    "SELECT c.doc_id, c.source, z.n_shingles, c.n_covered, "
    "c.n_covered * 1000 // z.n_shingles AS coverage_pm "
    "FROM cov c JOIN sz z USING (doc_id)"
)


@register("ext_eval_coverage_by_source", oracle=_EVAL_COVERAGE_SRC_ORACLE)
def ext_eval_coverage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(EVAL-item, corpus SOURCE) n-gram coverage — the
    decomposition `ext_eval_coverage` aggregates away: for every eval
    item and every corpus source that shares at least one of its
    word-3-grams, the count and permille of the item's shingles that
    source covers. This is the ACTIONABLE contamination table: a
    decontamination pass drops or downweights SOURCES (a crawl, a
    dump, a site), not individual matched documents, and this table
    says which source buys how much coverage of which benchmark item
    (one extra group key on the coverage probe — the r11 verdict's
    phrasing — so the two operators can never disagree on what
    "covered" means). Emits only (item, source) pairs with ≥ 1
    covered shingle; `n_shingles` repeats the item's total so
    coverage_pm reads standalone.

    Exactness: BIGINT counts over the distinct-per-doc shingle
    relation; coverage a permille floor division; a shingle counts
    toward a source iff ANY doc of that source contains it (the
    DISTINCT (s, source) projection — identical on both engines);
    NULL source coalesces to '' (nulls-sweep convention).

    Scale shape: the eval side is tiny, so its distinct shingles
    broadcast and the 100 TB corpus streams through ONE map-side
    semi-join probe (the `ext_eval_coverage` asymmetry); matched
    (doc, shingle) hits — bounded by the contamination surface, not
    the corpus — then take ONE doc-keyed join to attach `source`
    (AQE broadcasts the hit side at real ratios) and a DISTINCT
    bounded by |eval shingles| × |sources|. The per-item rollup and
    the size join are eval-sized. Reads the session shingle pin.
    (Scan audit: documents ×2 — the (doc_id, source) map is a second
    2-column pruned scan beside the shingle pin's lineage.)"""
    sh = _shingles_pinned(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") < EVAL_SET_MAX_ID)
    evs = ev.select("s").distinct()
    srcmap = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("source"), F.lit("")).alias("source")
    )
    hits = sh.filter(F.col("doc_id") >= EVAL_SET_MAX_ID).join(
        F.broadcast(evs), "s", "left_semi"
    )
    srcs = hits.join(srcmap, "doc_id").select("s", "source").distinct()
    sz = ev.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    return (
        ev.join(F.broadcast(srcs), "s")
        .groupBy("doc_id", "source")
        .agg(F.count("*").cast("long").alias("n_covered"))
        .join(sz, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_shingles",
            "n_covered",
            F.expr("n_covered * 1000 div n_shingles")
            .cast("long")
            .alias("coverage_pm"),
        )
    )


# ------------- incremental MinHash dedup (r13 add — r12 verdict
# item 3a: the TEXT twin of `ext_dedup_embcos_incremental_lsh`: a
# nightly crawl increment probes the SESSION-PINNED standing
# band-bucket index instead of re-mining the corpus)

_MH_INCR_ORACLE = f"""
WITH {_SHINGLE_CTE}, {_MH_CAND_CTES},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
          GROUP BY 1, 2),
vp AS (SELECT doc_a, doc_b FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
sym AS (SELECT doc_a AS did, doc_b AS partner FROM vp
        UNION ALL SELECT doc_b, doc_a FROM vp),
i AS (SELECT doc_id FROM documents
      WHERE {doc_bucket_sql('doc_id')} >= {INCR_BASE_BUCKETS})
SELECT i.doc_id,
  EXISTS (SELECT 1 FROM sym WHERE sym.did = i.doc_id
          AND {doc_bucket_sql('sym.partner')} < {INCR_BASE_BUCKETS})
    AS dup_of_base,
  EXISTS (SELECT 1 FROM sym WHERE sym.did = i.doc_id
          AND {doc_bucket_sql('sym.partner')} >= {INCR_BASE_BUCKETS}
          AND sym.partner < i.doc_id) AS dup_in_increment,
  (NOT EXISTS (SELECT 1 FROM sym WHERE sym.did = i.doc_id
               AND {doc_bucket_sql('sym.partner')} < {INCR_BASE_BUCKETS})
   AND NOT EXISTS (SELECT 1 FROM sym WHERE sym.did = i.doc_id
                   AND {doc_bucket_sql('sym.partner')} >= {INCR_BASE_BUCKETS}
                   AND sym.partner < i.doc_id)) AS is_new
FROM i
"""


@register("ext_dedup_minhash_incremental", oracle=_MH_INCR_ORACLE)
def ext_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash near-dup dedup — the TEXT twin of
    `ext_dedup_embcos_incremental_lsh` (r12 verdict item 3a), the
    nightly-crawl pattern: the corpus splits into a standing BASE
    (md5 buckets 0-{INCR_BASE_BUCKETS}) and tonight's INCREMENT (the
    `ext_dedup_incremental` split), and each increment document is
    flagged against the base (dup_of_base), against earlier-doc_id
    increment documents (dup_in_increment — first copy wins, the
    `stream_dedup_incremental_chain` convention), else is_new.

    Pair evidence = the PRODUCTION near-dup edge set: banded-MinHash
    candidates verified at exact Jaccard ≥ {JACCARD_THRESHOLD} —
    exactly `ext_dedup_pipeline_minhash`'s verified stage, read as
    pair_pin ⋉ cand_pin (two session-pinned frames, three
    broadcast-sized joins; the banding and the verify execute once
    per session no matter how many consumers run). The oracle
    replays the full banding + candidate-restricted verify in SQL,
    so banding recall misses are part of the hash-checked contract
    (the `ext_sim_lsh` doctrine), never noise.

    Like every content miner, assumes key-deduplicated
    (bronze-cleaned) input — under PK-violating doc_ids the oracle's
    id-keyed re-pairing changes the QUESTION, not the arithmetic
    (the documented `--dups` boundary class, tools/degen_sweep.py;
    the ingest-dedup family upstream is the enforcement point).

    Scale shape — the point of incremental dedup is what this plan
    never does: base × base is never re-mined. The standing band
    buckets persist (the pin here; a bucketed band table at 100 TB —
    `ext_dedup_incremental_bucketed`'s layout on the signature
    tier); tonight's documents shingle + hash map-locally, land in
    their buckets, and only bucket-local candidates incident to the
    increment are verified — per-night cost is
    increment-proportional. The flag derivation itself is one
    symmetric explode of a pair-sized list, two md5-bucket
    predicates, and two id-keyed broadcast joins against the
    increment spine; nothing rescans or reshuffles the corpus."""
    pairs = (
        _pair_graph_pinned(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(_mh_cand_pinned(spark, sf_dir), ["doc_a", "doc_b"], "left_semi")
    )
    sym = (
        pairs.select(
            F.col("doc_a").alias("did"), F.col("doc_b").alias("partner")
        )
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("did"), F.col("doc_a").alias("partner")
            )
        )
        .withColumn("pbkt", doc_bucket("partner"))
    )
    spine = (
        load(spark, sf_dir, "documents")
        .filter(doc_bucket("doc_id") >= INCR_BASE_BUCKETS)
        .select("doc_id")
    )
    dob = (
        sym.filter(F.col("pbkt") < INCR_BASE_BUCKETS)
        .select(F.col("did").alias("doc_id"))
        .distinct()
        .withColumn("f_base", F.lit(True))
    )
    dii = (
        sym.filter(
            (F.col("pbkt") >= INCR_BASE_BUCKETS)
            & (F.col("partner") < F.col("did"))
        )
        .select(F.col("did").alias("doc_id"))
        .distinct()
        .withColumn("f_incr", F.lit(True))
    )
    fb = F.coalesce(F.col("f_base"), F.lit(False))
    fi = F.coalesce(F.col("f_incr"), F.lit(False))
    return (
        spine.join(F.broadcast(dob), "doc_id", "left")
        .join(F.broadcast(dii), "doc_id", "left")
        .select(
            "doc_id",
            fb.alias("dup_of_base"),
            fi.alias("dup_in_increment"),
            (~(fb | fi)).alias("is_new"),
        )
    )
