"""Similarity search over embedding vectors (SURVEY §2.10 EXT:
`ext_sim_topk`, `join_similarity_topk`, embedding-cosine near-dup).

Scale design:
- Brute-force cosine is the *correctness baseline*: the (small) query
  side is broadcast, so the big side streams through a map-only stage
  — O(Q*N) work, zero shuffle of the corpus, embarrassingly parallel.
  This is exactly how a 1000-executor batch scorer should run when Q
  is small.
- Two scale paths, both approximate AND hard-oracle-checked — the
  seeded planes / trained quantizer replay in DuckDB via fold-exact
  arithmetic — plus recall-vs-brute-force assertions in
  tests/test_similarity.py: `ext_sim_lsh` (bucketed random
  projections; candidate pairs scored bucket-locally) and
  `ext_sim_ivf` (k-means coarse quantizer; queries probe only their
  nearest inverted lists). LSH suits pairwise near-dup mining; IVF
  suits query-serving top-k.
- Vector math is one index-order fold everywhere, bit-exact against
  the DuckDB oracle's list_dot_product: JVM-side as the `_DOT`
  `zip_with`/`aggregate` expression on array<double>, and in NumPy
  as the one pair kernel (`_fold_dots`) that every blocked scorer
  reaches through `_block_triangle` or `_block_probe`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import SourceMemo, compute_once, literal_frame, load, memo, session_pin
from ..functions.hashing import doc_bucket, doc_bucket_sql
from ..registry import register
from .dedup import INCR_BASE_BUCKETS

TOP_K = 10
N_QUERY_VECS = 5  # vec_id < 5 are the query set
COS_DUP_THRESHOLD = 0.4
EMB_DIM = 64  # driver-testdata embedding dimensionality (TESTDATA.md).
# Both engines are pinned to it: the static DuckDB oracle strings AND
# the Spark miners' inlined plane literals / Lloyd kernels. A corpus
# with a different dim fails LOUDLY at miner time (raise_error in
# `lsh_candidate_pairs`, assert in `_ivf_scored`) instead of
# silently diverging from the oracle's planes (r11 ADVICE).

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"


def _cosine(a: str, b: str):
    """Engine-shared cosine kernel (sequential fold ≙ DuckDB
    list_dot_product). Zero-norm contract (r7 degenerate-input
    sweep): a zero vector has UNDEFINED cosine — DuckDB's double
    division by zero already yields NULL, while Spark's raw division
    is a hard ANSI DIVIDE_BY_ZERO crash, so the nullif guard here is
    what makes the two engines agree (NULL cos; threshold consumers
    drop it via NULL-comparison semantics, ranking consumers sink it
    via both engines' NULLS-LAST-on-DESC with the neighbor_id
    tie-break). Zero vectors are real at corpus scale — padding
    rows, failed encodes — not a hypothetical."""
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return dot / F.nullif(na * nb, F.lit(0.0))


def _with_double_vec(df: DataFrame, out: str) -> DataFrame:
    return df.withColumn(out, F.col("embedding").cast("array<double>"))


# ---------------------------------------------------------------------------
# The one NumPy pair kernel. Every NumPy scorer below stacks its vectors
# with `_stack`, folds them with `_fold_dots` and reaches its rows
# through one of two block layouts: `_block_triangle` (all unordered
# pairs of one set) or `_block_probe` (all big × small pairs).


def _stack(vectors):
    """The (n, dim) float64 matrix of a column of vectors; float32
    widens exactly, as Spark's cast to array<double> does."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def _fold_dots(a, b):
    """(a·a, b·b, a·bᵀ) over the rows of two float64 matrices. Every dot
    is a left-to-right fold over dimensions from 0.0 (``acc += a_i*b_i``,
    never BLAS), so each value is bit-equal to `_DOT` on the JVM and to
    DuckDB's `list_dot_product`."""
    import numpy as np

    aa = np.zeros(a.shape[0])
    bb = np.zeros(b.shape[0])
    ab = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        aa += a[:, i] * a[:, i]
        bb += b[:, i] * b[:, i]
        ab += np.outer(a[:, i], b[:, i])
    return aa, bb, ab


def _fold_cos(a, b):
    """(cos, denom): dot / (‖a‖·‖b‖) over `_fold_dots`, the `_cosine`
    arithmetic. Where `denom` is 0 the JVM reads NULL (`nullif`) and
    NumPy reads NaN or ±inf; consumers that must skip NULL mask on
    `denom != 0`."""
    import numpy as np

    aa, bb, ab = _fold_dots(a, b)
    denom = np.sqrt(aa)[:, None] * np.sqrt(bb)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return ab / denom, denom


def _fold_d2(a, b):
    """Squared distances (a·a + b·b) − 2·(a·b) over `_fold_dots`, in
    that association order: bit-equal to `_ivf_d2_sql` and to the LSH
    and recall oracles' list_dot_product trees."""
    aa, bb, ab = _fold_dots(a, b)
    return (aa[:, None] + bb[None, :]) - 2.0 * ab


def _tri_mask(ids_a, ids_b, same_block: bool):
    """Pairs a scorer may emit: within one block only the upper
    triangle (id_a < id_b), so each unordered pair counts once; across
    blocks every pair."""
    import numpy as np

    if same_block:
        return ids_a[:, None] < ids_b[None, :]
    return np.ones((len(ids_a), len(ids_b)), dtype=bool)


def _pair_rows(ids_a, ids_b, keep, **values) -> dict:
    """Output columns (vec_a < vec_b, then each value matrix) of the
    pairs `keep` selects."""
    import numpy as np

    ai, bi = np.nonzero(keep)
    return {
        "vec_a": np.minimum(ids_a[ai], ids_b[bi]),
        "vec_b": np.maximum(ids_a[ai], ids_b[bi]),
        **{k: v[ai, bi] for k, v in values.items()},
    }


def _score_sides(a, b, same_block, vec, score, schema, extra=()):
    """Score one group's two sides: stack each side's `vec` column
    (once when both sides are the same rows) and frame the column dict
    of `score(ids_a, mat_a, ids_b, mat_b, same_block, *extra_a,
    *extra_b)`; when a side is empty or the scorer returns None, an
    empty frame typed by the output DDL `schema`."""
    import numpy as np
    import pandas as pd

    out = None
    if len(a) and len(b):
        mat_a = _stack(a[vec])
        out = score(
            a["vec_id"].to_numpy(dtype=np.int64),
            mat_a,
            b["vec_id"].to_numpy(dtype=np.int64),
            mat_a if a is b else _stack(b[vec]),
            same_block,
            *[a[c].to_numpy() for c in extra],
            *[b[c].to_numpy() for c in extra],
        )
    if out is not None:
        return pd.DataFrame(out)
    pd_type = {"bigint": "int64", "double": "float64", "string": "object"}
    types = {c: pd_type[t] for c, t in (f.split() for f in schema.split(","))}
    return pd.DataFrame({c: [] for c in types}).astype(types)


def _block_triangle(e, n_blocks, score, schema: str, keys=()) -> DataFrame:
    """Block-triangle layout over (vec_id, embedding, *keys) rows:
    each row hashes to block vec_id mod n (`n_blocks`, an int or a
    per-row int Column such as a bucket's salt count) and replicates
    to the n groups (*keys, min(blk, o), max(blk, o)), so every
    unordered pair of rows with equal `keys` meets in exactly one
    group, and no group holds more than two blocks. Per group,
    `score(ids_a, mat_a, ids_b, mat_b, same_block)` scores block bi
    against block bj (one block against itself when `same_block`;
    `_tri_mask` keeps each pair once) and returns a dict of output
    columns or None; `schema` is the output DDL."""
    n = F.lit(n_blocks) if isinstance(n_blocks, int) else n_blocks
    rep = (
        e.withColumn("blk", F.pmod(F.col("vec_id"), n).cast("int"))
        .withColumn("o", F.explode(F.sequence(F.lit(0), n - 1)))
        .select(
            *keys,
            F.least("blk", "o").alias("bi"),
            F.greatest("blk", "o").alias("bj"),
            "blk",
            "vec_id",
            "embedding",
        )
    )

    def group(pdf):
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        if bi != bj:
            a, b = pdf[pdf["blk"] == bi], pdf[pdf["blk"] == bj]
            return _score_sides(a, b, False, "embedding", score, schema)
        # one block against itself; a lone row has no pair to fold
        b = pdf if len(pdf) > 1 else pdf.iloc[:0]
        return _score_sides(pdf, b, True, "embedding", score, schema)

    return rep.groupBy(*keys, "bi", "bj").applyInPandas(group, schema)


def _block_probe(
    big: DataFrame, small: DataFrame, score, schema: str,
    lt_only: bool = False, extra=(),
) -> DataFrame:
    """Block-probe layout over (vec_id, dv, *extra) rows: big-side
    rows hash to block vec_id mod EMBCOS_BLOCKS and small-side rows
    replicate to every block, so every (big, small) row pair meets in
    exactly one group while the big side is never copied. Per group,
    `score(ids_big, mat_big, ids_small, mat_small, same_block,
    *extra_big, *extra_small)` returns a dict of output columns or
    None. `same_block` is `lt_only`: both sides are one set and
    `_tri_mask` keeps only big id < small id."""
    cols = ("vec_id", "dv", *extra)
    big_t = big.select(
        F.pmod(F.col("vec_id"), F.lit(EMBCOS_BLOCKS)).cast("int").alias("blk"),
        F.lit(0).alias("side"),
        *cols,
    )
    small_t = small.select(
        F.explode(F.sequence(F.lit(0), F.lit(EMBCOS_BLOCKS - 1))).alias("blk"),
        F.lit(1).alias("side"),
        *cols,
    )

    def group(pdf):
        a, b = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        return _score_sides(a, b, lt_only, "dv", score, schema, extra)

    return big_t.unionByName(small_t).groupBy("blk").applyInPandas(group, schema)


_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)

# Finite-vector contract for the FLOAT similarity family (r9
# nonfinite oracle gate, the float twin of FINITE_AMAX_SQL): a NaN
# cosine rides comparison semantics differently per engine — SQL
# treats NaN as GREATER than any threshold (NaN >= t is TRUE on both
# Spark and DuckDB) while the NumPy blocked kernels read NaN >= t as
# False — so non-finite vectors leave the similarity universe
# entirely. The bound is 1e150, not Infinity: a finite 1e308
# component still overflows the norm PRODUCT to inf and the cosine
# to NaN; amax < 1e150 keeps Σx² ≤ D·1e300 and the norm product
# finite for any realistic dimensionality. NULL and empty vectors
# leave with them (NULL amax fails every clause).
FINITE_EMB_BOUND = "1.0e150"


def _fin_emb_spark(col: str = "embedding") -> str:
    amax = f"array_max(transform({col}, x -> abs(CAST(x AS DOUBLE))))"
    return (
        f"({col} IS NOT NULL AND NOT isnan({amax}) "
        f"AND {amax} < {FINITE_EMB_BOUND})"
    )


def _fin_emb_duck(col: str) -> str:
    amax = f"list_max(list_transform({col}, x -> abs(CAST(x AS DOUBLE))))"
    return (
        f"({col} IS NOT NULL AND NOT isnan({amax}) "
        f"AND {amax} < {FINITE_EMB_BOUND})"
    )


_TOPK_ORACLE = (
    f"WITH c AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cos "
    f"FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id "
    f"WHERE a.vec_id < {N_QUERY_VECS} "
    # finite-vector pin (r9 nonfinite gate; upgrades the r7 NULL pin):
    # matches the Spark-side source filter
    f"AND {_fin_emb_duck('a.embedding')} AND {_fin_emb_duck('b.embedding')}) "
    "SELECT query_id, neighbor_id, cos, rank FROM ("
    "  SELECT query_id, neighbor_id, cos, row_number() OVER ("
    "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM c) "
    f"WHERE rank <= {TOP_K}"
)


def _rank_topk(scored: DataFrame) -> DataFrame:
    """Per-query top-k with the repo's deterministic tie-break
    (cos DESC, neighbor_id ASC) — the ONE place the ranking contract
    lives; ext_sim_topk, ext_sim_ivf and ext_sim_ivf_exhaustive all
    share it so their outputs can never diverge on a tie rule."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


@register("ext_sim_topk", oracle=_TOPK_ORACLE)
def ext_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, stream
    the corpus through a map-only scoring stage, then a per-query
    window top-k (SURVEY §2.3 `join_similarity_topk`). Deterministic
    tiebreak on neighbor_id.

    Session-pinned (r13 optimization pass): this is the GROUND-TRUTH
    table of the whole serving ladder — consumed under two registry
    ids (`ext_sim_topk`, `join_similarity_topk`) and as
    `ext_retrieval_eval`'s truth frame — so the corpus-scan scoring
    pass ran ≥3× per session before. One Q×k pinned frame per
    (app, embeddings-fingerprint) replaces them."""
    return session_pin(
        spark,
        sf_dir,
        "sim_topk",
        lambda: _sim_topk_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _sim_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual brute-force scoring plan (built once per session by
    the pin seam above)."""
    e = load(spark, sf_dir, "embeddings").filter(
        # finite-vector pin (r9 nonfinite gate; upgrades the r7 NULL pin)
        F.expr(_fin_emb_spark())
    )
    q = _with_double_vec(e.filter(F.col("vec_id") < N_QUERY_VECS), "qv").select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    c = _with_double_vec(e, "cv").select(F.col("vec_id").alias("neighbor_id"), "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine("qv", "cv").alias("cos"))
    )
    return _rank_topk(scored)


# SURVEY §2.3 lists this operator under the id `join_similarity_topk`
# (§2.10 uses `ext_sim_topk`); register both ids so the §2 inventory
# maps one-to-one onto `queries()`.
register("join_similarity_topk", oracle=_TOPK_ORACLE)(ext_sim_topk)


IVF_ITERS = 5
IVF_TRAIN_CAP = 4096  # quantizer training rows collected to the driver

# portable pseudo-random sample order (the doc_bucket md5 device, full
# 60-bit value): identical on Spark (conv/substring/md5) and DuckDB
_IVF_HASH_SQL = (
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


def _ivf_d2_sql(x: str, c: str) -> str:
    """Engine-shared squared-distance tree (twin of `_fold_d2`):
    (x·x + c·c) − 2·(x·c)."""
    return (
        f"list_dot_product({x}, {x}) + list_dot_product({c}, {c}) "
        f"- 2.0 * list_dot_product({x}, {c})"
    )


def _ivf_oracle() -> str:
    """DuckDB replay of the ENTIRE IVF path (r10 verdict item 4 — the
    last `no_oracle` row becomes hash-checked): bounded md5-ordered
    training sample, lowest-vec_id centroid seeds, IVF_ITERS unrolled
    Lloyd iterations with per-dimension fold-sum centroid means
    (list_dot_product against a ones-list ≙ the NumPy row-wise
    sequential accumulation in vec_id order), argmin assignment with
    the (d2, cid) tiebreak, nprobe nearest-list probing, and the
    fold-cosine top-k. Every float op mirrors the Spark side's
    sequential-fold arithmetic, so the result — including which
    candidates the APPROXIMATION admits — is bit-reproducible;
    recall < 1 is part of the contract, exactly as for the banded
    MinHash and LSH miners."""
    fin = _fin_emb_duck("embedding")
    d2_sc = _ivf_d2_sql("s.dv", "c.cv")
    d2_ec = _ivf_d2_sql("e.dv", "c.cv")
    d2_qc = _ivf_d2_sql("q.qv", "c.cv")
    ctes = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv "
        f"FROM embeddings WHERE {fin})",
        f"samp AS (SELECT vec_id, dv FROM e ORDER BY {_IVF_HASH_SQL}, vec_id "
        f"LIMIT {IVF_TRAIN_CAP})",
        "prm AS (SELECT greatest(2, least(64, CAST(floor(sqrt(CAST("
        "count(*) AS DOUBLE))) AS BIGINT))) AS nlist FROM samp)",
        f"dims AS (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i)",
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 "
        "AS BIGINT) AS cid, dv AS cv FROM samp "
        "QUALIFY row_number() OVER (ORDER BY vec_id) <= "
        "(SELECT nlist FROM prm))",
    ]
    for t in range(1, IVF_ITERS + 1):
        ctes.append(
            f"a{t} AS (SELECT vec_id, dv, cid FROM ("
            f"SELECT s.vec_id, s.dv, c.cid, row_number() OVER ("
            f"PARTITION BY s.vec_id ORDER BY {d2_sc}, c.cid) AS rn "
            f"FROM samp s CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        ctes.append(
            f"m{t} AS (SELECT cid, i, list(x ORDER BY vec_id) AS l, "
            f"CAST(count(*) AS BIGINT) AS cnt FROM ("
            f"SELECT a.cid, d.i, a.vec_id, a.dv[d.i] AS x "
            f"FROM a{t} a CROSS JOIN dims d) GROUP BY cid, i)"
        )
        ctes.append(
            f"u{t} AS (SELECT cid, list(list_dot_product(l, "
            f"list_transform(l, x -> 1.0)) / cnt ORDER BY i) AS cv "
            f"FROM m{t} GROUP BY cid)"
        )
        ctes.append(
            f"c{t} AS (SELECT p.cid, coalesce(u.cv, p.cv) AS cv "
            f"FROM c{t - 1} p LEFT JOIN u{t} u ON u.cid = p.cid)"
        )
    last = f"c{IVF_ITERS}"
    ctes.append(
        "asg AS (SELECT vec_id, cid FROM ("
        "SELECT e.vec_id, c.cid, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {d2_ec}, c.cid) AS rn "
        f"FROM e CROSS JOIN {last} c) WHERE rn = 1)"
    )
    ctes.append(
        f"q AS (SELECT vec_id AS query_id, dv AS qv FROM e "
        f"WHERE vec_id < {N_QUERY_VECS})"
    )
    ctes.append(
        "pr AS (SELECT query_id, cid FROM ("
        "SELECT q.query_id, c.cid, row_number() OVER ("
        f"PARTITION BY q.query_id ORDER BY {d2_qc}, c.cid) AS rn "
        f"FROM q CROSS JOIN {last} c) "
        "WHERE rn <= (SELECT greatest(1, nlist // 4) FROM prm))"
    )
    ctes.append(
        "sc AS (SELECT p.query_id, a.vec_id AS neighbor_id, "
        "list_dot_product(q.qv, n.dv) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product(n.dv, n.dv))) AS cos "
        "FROM pr p JOIN asg a ON a.cid = p.cid "
        "JOIN q ON q.query_id = p.query_id "
        "JOIN e n ON n.vec_id = a.vec_id "
        "WHERE a.vec_id != p.query_id)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, neighbor_id, cos, rank FROM ("
        "SELECT query_id, neighbor_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank "
        f"FROM sc) WHERE rank <= {TOP_K}"
    )


@register("ext_sim_ivf", oracle=_ivf_oracle())
def ext_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer partitions the
    corpus into nlist inverted lists; each query probes only its
    nprobe nearest lists, so scored candidates shrink from N to
    ~N*nprobe/nlist. The quantizer trains on a BOUNDED driver-side
    sample (the standard IVF recipe — the model is tiny and training
    data needn't be exhaustive): at most IVF_TRAIN_CAP rows picked by
    deterministic hash order (`TakeOrderedAndProject`, a per-partition
    top-K merge — never a full collect, never a full sort), so driver
    memory is O(cap × dim) no matter the corpus size — a CONTRACT
    asserted by tests/test_similarity.py (the cap binds at every SF).
    In the billion-vector regime where even a capped driver sample
    underfits the quantizer, the in-engine alternative is
    `pyspark.ml.clustering.KMeans` (kmeans|| init) trained
    distributed on the full corpus, then its centroid matrix broadcast
    into the identical assignment/scoring stage below — the seam is
    the `cent` ndarray, nothing else changes. Deterministic
    seeding: centroids init from the lowest vec_ids of the sample,
    fixed Lloyd iterations. Corpus assignment + scoring is one
    map-only stage over Arrow batches with the (centroids, queries)
    model broadcast; the final top-k is a per-query window rank, same
    contract as `ext_sim_topk`.

    nlist ~ sqrt(n_train) and nprobe = nlist/4; at deployment scale
    assignment lands partitioned by list id for list-local serving.

    HARD-oracle-checked since r11 (`_ivf_oracle`): the training
    sample order is the portable md5 device, every distance /
    centroid-mean is a sequential fold mirrored in SQL, and the
    emitted cos is re-scored JVM-side with the shared `_cosine`
    kernel (`ext_sim_ivf_exhaustive`'s device) — so the driver
    hash-checks the approximate result itself, not just its
    recall/exhaustive siblings."""
    cand = _ivf_scored(spark, sf_dir, probe_all=False)
    return _ivf_rescore_topk(spark, sf_dir, cand)


def _ivf_train_sample(e: DataFrame) -> DataFrame:
    """The quantizer's bounded driver sample: pseudo-random but
    deterministic order by the portable md5 hash of vec_id (the
    `doc_bucket` device, full 60-bit value — DuckDB-replayable, which
    murmur3 F.hash was not; r11 oracle-ization), capped at
    IVF_TRAIN_CAP. Compiles to TakeOrderedAndProject (per-partition
    heap merge, never a global sort) — the O(cap × dim)
    driver-memory contract tests/test_similarity.py pins against
    THIS function, which is exactly what `_ivf_scored` collects."""
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return e.orderBy(h.asc(), F.col("vec_id").asc()).limit(IVF_TRAIN_CAP)


def _ivf_scored(spark: SparkSession, sf_dir: str, probe_all: bool) -> DataFrame:
    """IVF candidate generation: slim (query_id, neighbor_id) rows,
    the standing index's probe result. The default probe mode is
    session-pinned per (app, embeddings fingerprint), since
    `ext_sim_ivf`, `ext_sim_ivf_recall` and `ext_retrieval_eval` all
    read it. `probe_all=True` probes every list (nprobe = nlist),
    making the candidate set provably exhaustive — the seam
    `ext_sim_ivf_exhaustive`'s exactness contract exercises; it has
    one consumer, so it builds per invocation. Scoring/ranking
    happens JVM-side in `_ivf_rescore_topk`, so candidate generation
    ships ids only.

    Engine-replay contract: the sample is collected in portable
    md5-hash order and re-sorted by vec_id, centroid seeds are the
    sample's lowest vec_ids, Lloyd means accumulate members
    SEQUENTIALLY in vec_id order, and all distances use `_fold_d2`
    with first-min (lowest cid) tiebreaks — every step mirrored, op
    for op, in `_ivf_oracle`'s SQL."""
    if probe_all:
        return _ivf_scored_build(spark, sf_dir, True)
    return session_pin(
        spark,
        sf_dir,
        "ivf_cand",
        lambda: _ivf_scored_build(spark, sf_dir, False),
        source="embeddings.parquet",
    )


# The trained IVF quantizer, shared by both probe modes: the exhaustive
# mode only slices more columns of the same stable probe order. Only
# the O(cap x dim) model is memoized; assignment, probing and scoring
# still execute from parquet on every action.
_IVF_MODEL_MEMO = SourceMemo(16)


def _ivf_model(spark: SparkSession, sf_dir: str, e: DataFrame):
    """Train (or fetch) the coarse quantizer for `sf_dir`: returns
    (cent, q_ids, order, nlist) where `order` is each query's FULL
    stable (d2, cid) probe ordering, or None when the corpus or the
    query set is empty. `e` is the finite-vector universe the caller
    scores; the training reads it, and the model is memoized under
    `catalog.memo`'s key for `embeddings.parquet`, since it is a pure
    function of that source."""
    return memo(
        _IVF_MODEL_MEMO,
        spark,
        sf_dir,
        "embeddings.parquet",
        "ivf_model",
        lambda: _ivf_train(e),
    )


def _ivf_train(e: DataFrame):
    """The quantizer training behind `_ivf_model` (docstring there)."""
    import numpy as np

    model = None
    sample = _ivf_train_sample(e).toPandas()
    if len(sample) > 0:
        sample = sample.sort_values("vec_id")  # member order for Lloyd means
        ids = sample["vec_id"].to_numpy(dtype=np.int64)
        mat = _stack(sample["embedding"])
        dim = mat.shape[1]
        # the static oracle unrolls EMB_DIM dims
        assert dim == EMB_DIM, (
            f"IVF miner: embedding dim {dim} != {EMB_DIM} — the DuckDB "
            "oracle's dims CTE is generated for EMB_DIM (similarity.py)"
        )
        nlist = max(2, min(64, int(np.sqrt(len(ids)))))

        # ids ascend, so the first nlist rows ARE the lowest-vec_id seeds
        cent = mat[:nlist].copy()
        for _ in range(IVF_ITERS):
            # ties -> first (lowest) cid, matching the oracle's (d2, cid)
            assign = _fold_d2(mat, cent).argmin(axis=1)
            for k in range(len(cent)):
                members = mat[assign == k]
                if len(members):
                    acc = np.zeros(dim)
                    for row in members:  # sequential fold in vec_id order
                        acc += row
                    cent[k] = acc / len(members)

        # query-side probe sets (vec_id < N_QUERY_VECS): tiny, collected
        # directly — independent of the training sample so bounding the
        # sample can never drop a query vector
        qpdf = e.filter(F.col("vec_id") < N_QUERY_VECS).toPandas()
        if len(qpdf) > 0:
            q_ids = qpdf["vec_id"].to_numpy(dtype=np.int64)
            q_mat = _stack(qpdf["embedding"])
            qd2 = _fold_d2(q_mat, cent)
            # stable sort: equal distances keep ascending-cid order (= the
            # oracle's (d2, cid) ranking; default quicksort would not)
            order = np.argsort(qd2, axis=1, kind="stable")
            model = (cent, q_ids, order, nlist)

    return model


def _ivf_scored_build(
    spark: SparkSession, sf_dir: str, probe_all: bool
) -> DataFrame:
    """The actual IVF assign/probe plan over the memoized quantizer
    (`_ivf_model`); built once per session for the pinned probe mode,
    per invocation for the exhaustive mode."""
    import numpy as np
    import pandas as pd

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.expr(_fin_emb_spark()))  # finite-vector pin
    )
    model = _ivf_model(spark, sf_dir, e)
    if model is None:  # empty corpus or no query vectors => no neighbors
        return spark.createDataFrame([], "query_id bigint, neighbor_id bigint")
    cent, q_ids, order, nlist = model
    nprobe = nlist if probe_all else max(1, nlist // 4)
    probes = order[:, :nprobe]
    bc = spark.sparkContext.broadcast((cent, q_ids, probes))

    def score(batches):
        cent_b, q_ids_b, probes_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = _stack(pdf["embedding"])
            c_assign = _fold_d2(c_mat, cent_b).argmin(axis=1)
            out_q, out_n = [], []
            for qi in range(len(q_ids_b)):
                cand = np.isin(c_assign, probes_b[qi]) & (c_ids != q_ids_b[qi])
                if not cand.any():
                    continue
                out_q.append(np.full(int(cand.sum()), q_ids_b[qi]))
                out_n.append(c_ids[cand])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                }
            )

    return e.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        score, "query_id bigint, neighbor_id bigint"
    )


def _ivf_rescore_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame
) -> DataFrame:
    """JVM-side exact re-score + top-k over an IVF candidate id set:
    two vec_id equi-joins (broadcast query side with its pushed-down
    vec_id < N filter) and the shared `_cosine` sequential-fold
    kernel (≙ DuckDB list_dot_product bit for bit), then the shared
    `_rank_topk` contract. Candidates ≪ corpus², so the re-score is
    linear in candidate count. Shared by `ext_sim_ivf` and
    `ext_sim_ivf_exhaustive` so the two paths can never diverge on
    scoring or tie rules."""
    e = load(spark, sf_dir, "embeddings")
    # deliberately NOT compute_once (r6 sweep review): the query-side
    # reference keeps its vec_id < N_QUERY_VECS pushdown (a ~one-row-
    # group scan at scale), and pinning would materialize the WHOLE
    # corpus widened to double — costlier than the cheap cast re-scan
    ev = _with_double_vec(e, "v")
    joined = cand.join(
        F.broadcast(
            ev.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
            .filter(F.col("query_id") < N_QUERY_VECS)
        ),
        "query_id",
    ).join(
        ev.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")),
        "neighbor_id",
    )
    scored = joined.select(
        "query_id", "neighbor_id", _cosine("qv", "cv").alias("cos")
    )
    return _rank_topk(scored)


@register("ext_sim_ivf_exhaustive", oracle=_TOPK_ORACLE)
def ext_sim_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable exactness contract for the IVF path
    (hash-checked end to end; `ext_sim_ivf` itself is ALSO
    hash-checked since r11 via the full `_ivf_oracle` replay — this
    operator remains the PROBE-RESTRICTION-free contract): run the
    SAME IVF machinery —
    bounded quantizer training, Lloyd iterations, corpus assignment,
    probe-set candidate generation over Arrow batches — but probe ALL
    nlist inverted lists. With nprobe = nlist the inverted lists must
    partition the corpus, so the candidate set is provably every
    non-self vector and the top-k must equal brute force
    (`ext_sim_topk`'s oracle) EXACTLY. A bug anywhere in the pipeline
    — a row dropped or duplicated by assignment, a batch skipped, a
    query vector lost to the training-sample cap — breaks the
    row-count or value hash, where a rows-only entry would hide it.
    What stays unverified by the driver is only the probe RESTRICTION
    (the approximation itself), which tests/test_similarity.py bounds
    with recall assertions.

    The emitted cos is re-scored JVM-side (`aggregate`/`zip_with`
    sequential fold ≙ DuckDB `list_dot_product`, bit-identical) via
    two vec_id equi-joins — the NumPy/BLAS dot used for candidate
    scoring reorders float adds and cannot satisfy the bit-stable
    oracle contract. Candidates ≪ corpus² so the re-score is linear
    in candidate count; the exhaustive variant is a VERIFICATION
    query (driver SF), never the serving path."""
    cand = _ivf_scored(spark, sf_dir, probe_all=True)
    return _ivf_rescore_topk(spark, sf_dir, cand)


EMBCOS_BLOCKS = 8  # triangle-join block count; tasks hold ≤ 2N/B vectors


@register(
    "ext_dedup_embcos",
    oracle=(
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cos "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        f"WHERE {_COS_SQL} >= {COS_DUP_THRESHOLD} "
        # finite-vector pin
        f"AND {_fin_emb_duck('a.embedding')} AND {_fin_emb_duck('b.embedding')}"
    ),
)
def ext_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= threshold) — the
    semantic-dedup primitive for training corpora.

    Physical strategy: the distributed block triangle join
    (`_block_triangle`). The corpus is hashed into B blocks
    (blk = vec_id mod B); each vector is replicated to the B unordered
    block-pair groups it participates in (shuffle volume N×B rows —
    vectors, never pairs), and one `applyInPandas` task per group
    (i ≤ j) scores block i against block j with NumPy. Every unordered
    vector pair lands in exactly one group, so the result is EXACT —
    identical to the all-pairs SQL oracle — while no task ever holds
    more than 2N/B vectors and the driver never collects the corpus
    (at 100 TB, B scales with corpus size to keep 2N/B in executor
    memory). For *approximate* mining at a much lower O(N²/B) cost,
    compose `ext_sim_lsh` buckets with this same scorer instead.

    Numeric contract: `_fold_cos` over `_fold_dots`, bit-identical to
    the sequential fold Spark's `aggregate` HOF and DuckDB's
    `list_dot_product` perform — so results hash-match the SQL oracle
    exactly, not just approximately.

    Session-pinned per (app, embeddings fingerprint):
    `ext_dedup_semantic` and `ext_dedup_embcos_pipeline_recall`'s
    exact arm consume this SAME slim (vec_a, vec_b, cos) pair graph,
    so K consumers cost one mine plus K reads."""
    return session_pin(
        spark,
        sf_dir,
        "embcos_pairs",
        lambda: _embcos_pairs_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _embcos_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block-triangle plan for `ext_dedup_embcos` (built once per
    session by the pin seam above): the cosine cut per block pair."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.expr(_fin_emb_spark()))  # finite-vector pin
    )

    def score(ids_a, mat_a, ids_b, mat_b, same_block):
        cos, _ = _fold_cos(mat_a, mat_b)
        keep = _tri_mask(ids_a, ids_b, same_block) & (cos >= COS_DUP_THRESHOLD)
        return _pair_rows(ids_a, ids_b, keep, cos=cos)

    return _block_triangle(
        e, EMBCOS_BLOCKS, score, "vec_a bigint, vec_b bigint, cos double"
    )


LSH_TABLES = 6
LSH_HASHES_PER_TABLE = 3  # AND-composition within a table
LSH_BUCKET_LEN = 0.25
LSH_DIST_THRESHOLD = 1.2
LSH_BUCKET_CAP = 1024  # salt buckets above this size (skew guard)
EMBCOS_LSH_BUCKET_LEN = 1.0  # unit-sphere mining: w ~ threshold distance


def _lsh_tables(dim: int, bucket_len: float):
    """The L seeded random-projection tables [(p, b)] with p unit-row
    (m, dim) planes and b the per-hash offsets in [0, bucket_len) —
    ONE generation procedure (np.default_rng(42), normals then
    uniforms per table, byte-identical to what the r5-r10 miner drew
    inside its first Arrow batch) shared by the Spark bucketing UDF
    and the DuckDB oracle generator, so the two engines can never
    disagree on the planes. Cached per (dim, bucket_len)."""
    import numpy as np

    key = (dim, float(bucket_len))
    t = _lsh_tables._cache.get(key)
    if t is None:
        rng = np.random.default_rng(42)
        t = []
        for _ in range(LSH_TABLES):
            p = rng.standard_normal((LSH_HASHES_PER_TABLE, dim))
            # unit-normalize so bucket width is in data units
            # (matches BucketedRandomProjectionLSH)
            p /= np.linalg.norm(p, axis=1, keepdims=True)
            b = rng.uniform(0.0, bucket_len, LSH_HASHES_PER_TABLE)
            t.append((p, b))
        _lsh_tables._cache[key] = t
    return t


_lsh_tables._cache = {}


def _lsh_pairs_oracle(
    bucket_len: float, dist_threshold: float, unit_sphere: bool, tail: str
) -> str:
    """DuckDB replay of the ENTIRE salted-LSH mining path (r10 verdict
    item 4 — retires the `no_oracle` rows): inline the seeded
    projection planes as double literals (repr round-trips exactly),
    rebuild every per-table bucket key with the same
    fold-dot + offset + floor arithmetic the Spark miner computes
    (sequential list_dot_product ≙ the NumPy per-dimension fold), join
    within buckets per table, DISTINCT the pair set, and re-score with
    the identical sqrt(greatest(0, a·a + b·b − 2·a·b)) distance. The
    salting sub-blocks need no modelling: they partition each bucket's
    pair space without changing its union. `unit_sphere` prepends the
    float32 normalization used by the cosine miner.

    Oracle-arithmetic dependency (r11 ADVICE, for triage): the hash
    check rests on DuckDB's `list_dot_product` accumulating LEFT TO
    RIGHT in element order — true of the duckdb pinned in this
    container (verified empirically against the fold at gate time).
    A future DuckDB switching to pairwise/SIMD summation would flip
    knife-edge floor() bucket keys and fail this gate SPURIOUSLY:
    triage such a mismatch as oracle-arithmetic drift (re-derive the
    oracle's dot as an explicit `list_reduce` fold), not as an
    engine bug. The same note applies to `_ivf_oracle`'s
    list_dot_product uses."""
    tables = _lsh_tables(EMB_DIM, bucket_len)
    fin = _fin_emb_duck("embedding")
    if unit_sphere:
        src = (
            f"raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS rv "
            f"FROM embeddings WHERE {fin}), "
            "nm AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm "
            "FROM raw), "
            "e AS (SELECT vec_id, CAST(list_transform(rv, x -> "
            "CAST(x / nrm AS REAL)) AS DOUBLE[]) AS dv FROM nm "
            "WHERE nrm > 0 AND NOT isnan(nrm) "
            "AND nrm < CAST('Infinity' AS DOUBLE))"
        )
    else:
        src = (
            f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv "
            f"FROM embeddings WHERE {fin})"
        )
    arms = []
    for t, (p, b) in enumerate(tables):
        keys = ", ".join(
            f"floor((list_dot_product(dv, "
            f"[{', '.join(repr(float(x)) for x in p[j])}]) "
            f"+ {float(b[j])!r}) / {float(bucket_len)!r}) AS k{j}"
            for j in range(LSH_HASHES_PER_TABLE)
        )
        arms.append(f"SELECT vec_id, {t} AS tbl, {keys} FROM e")
    kond = " AND ".join(
        f"a.k{j} = b.k{j}" for j in range(LSH_HASHES_PER_TABLE)
    )
    return (
        f"WITH {src}, "
        f"k AS ({' UNION ALL '.join(arms)}), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        f"FROM k a JOIN k b ON a.tbl = b.tbl AND {kond} "
        "AND a.vec_id < b.vec_id), "
        "p2 AS (SELECT c.vec_a, c.vec_b, "
        "sqrt(greatest(CAST(0.0 AS DOUBLE), "
        "list_dot_product(ea.dv, ea.dv) + list_dot_product(eb.dv, eb.dv) "
        "- 2.0 * list_dot_product(ea.dv, eb.dv))) AS dist "
        "FROM cand c JOIN e ea ON ea.vec_id = c.vec_a "
        "JOIN e eb ON eb.vec_id = c.vec_b) "
        f"SELECT vec_a, vec_b, {tail} FROM p2 "
        f"WHERE dist < {float(dist_threshold)!r}"
    )


def _lsh_bucket_expr(bucket_len: float) -> str:
    """The L·m seeded bucket keys as ONE Spark SQL generator
    expression (r11 verdict item 1 — replaces the `hash_to_buckets`
    mapInPandas stage): `inline(array(struct(tbl, bucket), ...))`
    where each table's bucket is concat_ws(':', floor((dv·p_j + b_j)
    / w), ...) and each dot product is the `aggregate()` sequential
    fold over the INLINED plane literals — the exact arithmetic
    `_lsh_pairs_oracle` replays with `list_dot_product` (repr()
    round-trips every double literal, both parsers are
    correctly-rounding, and IEEE addition in one fixed order is
    deterministic), so moving the stage JVM-side cannot move a single
    bucket key. The whole mine stays hash-checked; the Python/Arrow
    round trip (the r11 bench regression's cost) is gone."""
    tables = _lsh_tables(EMB_DIM, bucket_len)
    arms = []
    for t, (p, b) in enumerate(tables):
        keys = []
        for j in range(LSH_HASHES_PER_TABLE):
            lit = "array(" + ", ".join(f"{float(x)!r}D" for x in p[j]) + ")"
            dot = _DOT.format(a="dv", b=lit)
            keys.append(
                f"cast(floor(({dot} + {float(b[j])!r}D) / "
                f"{float(bucket_len)!r}D) as string)"
            )
        arms.append(
            f"named_struct('tbl', {t}, 'bucket', "
            f"concat_ws(':', {', '.join(keys)}))"
        )
    return f"inline(array({', '.join(arms)}))"


def lsh_candidate_pairs(
    spark: SparkSession,
    e: DataFrame,
    dist_threshold: float,
    bucket_len: float = LSH_BUCKET_LEN,
) -> DataFrame:
    """Core of the salted random-projection LSH join: (vec_id,
    embedding) rows in, deduped (vec_a, vec_b, dist) pairs under
    ``dist_threshold`` out. Shared by `ext_sim_lsh` (raw-space mining)
    and `ext_dedup_embcos_lsh` (cosine mining on normalized vectors,
    where cos ≥ t ⟺ dist ≤ sqrt(2−2t)).

    Bucketing runs entirely JVM-side (`_lsh_bucket_expr`); the only
    Python stage is the bucket-local pair scorer (`_block_triangle`
    keyed by (tbl, bucket)), whose input is candidate-bounded by
    construction. Distances are sqrt(max(0, `_fold_d2`)), bit-equal to
    the oracle's sqrt(greatest(0, a·a + b·b − 2·a·b)), so the emitted
    dist and the strict < cut hash-match DuckDB."""
    import numpy as np

    # dim guard: the plane literals (and the oracle) are EMB_DIM-dim; a
    # corpus with any other dimensionality must fail loudly here, not
    # hash-mismatch confusingly downstream.
    guarded_dv = (
        f"CASE WHEN size(embedding) = {EMB_DIM} "
        "THEN cast(embedding as array<double>) "
        "ELSE raise_error(concat('LSH miner: embedding dim ', "
        f"cast(size(embedding) as string), ' != {EMB_DIM} — the inlined "
        "projection planes and the DuckDB oracle are generated for "
        f"{EMB_DIM} dims (similarity.EMB_DIM)')) END"
    )
    # compute-once pin: `hashed` feeds BOTH the oversized-bucket
    # aggregation and the salt join; unpinned, the L×m inlined-plane
    # fold dot products over the full corpus run twice per mine. The
    # pinned frame is N·L rows of (id, one embedding copy per table
    # arm, bucket string) — fine at bench scale; at the 100 TB extreme
    # the one-line swap is dropping the pin and letting the agg branch
    # recompute the fold (scan-local CPU, no L× materialization).
    hashed = compute_once(
        e.withColumn("dv", F.expr(guarded_dv)).select(
            "vec_id", "embedding", F.expr(_lsh_bucket_expr(bucket_len))
        )
    )

    # Skew guard: a degenerate bucket (e.g. an all-identical-vector
    # corpus collapses into ONE bucket per table) would hand a single
    # task O(N²) work. Buckets above LSH_BUCKET_CAP are salted into
    # S = ceil(size/cap) blocks of the bucket's own block triangle —
    # every unordered pair still lands in exactly one group, so recall
    # is untouched while per-task work is bounded by (2·cap)². Bucket
    # sizes come from a pre-aggregated OVERSIZED-bucket map (count >
    # cap, so ≤ N·L/cap rows) joined back WITHOUT a forced broadcast
    # hint: N·L/cap is still linear in corpus size, so at the 100 TB
    # target a forced driver collect could blow the broadcast limit —
    # AQE broadcasts it at runtime whenever it is actually small (the
    # common case: empty or a handful of degenerate buckets) and falls
    # back to a shuffle join when it is not. Normal buckets take
    # nsalt = 1 via the coalesce.
    oversized = (
        hashed.groupBy("tbl", "bucket")
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") > LSH_BUCKET_CAP)
    )
    salted = hashed.join(oversized, ["tbl", "bucket"], "left").withColumn(
        "nsalt",
        F.coalesce(
            F.ceil(F.col("bsz") / F.lit(LSH_BUCKET_CAP)).cast("int"),
            F.lit(1),
        ),
    )

    def score(ids_a, mat_a, ids_b, mat_b, same_block):
        d = np.sqrt(np.maximum(_fold_d2(mat_a, mat_b), 0.0))
        keep = _tri_mask(ids_a, ids_b, same_block) & (d < dist_threshold)
        return _pair_rows(ids_a, ids_b, keep, dist=d)

    pairs = _block_triangle(
        salted,
        F.col("nsalt"),
        score,
        "vec_a bigint, vec_b bigint, dist double",
        keys=("tbl", "bucket"),
    )
    return pairs.dropDuplicates(["vec_a", "vec_b"])


@register(
    "ext_sim_lsh",
    oracle=_lsh_pairs_oracle(LSH_BUCKET_LEN, LSH_DIST_THRESHOLD, False, "dist"),
)
def ext_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for similarity: bucketed random-projection LSH with
    bucket-LOCAL verification. Per table l, a vector's key is the
    tuple of m floors floor((v.r_li + b_li)/w) (AND-composition — m
    projections per table sharpen selectivity; OR across L tables
    recovers recall; seeded gaussian projections => deterministic).

    HARD-oracle-checked since r11 (r10 verdict item 4): the planes are
    seeded constants shared with the oracle generator
    (`_lsh_tables`), bucket keys and pair distances are per-dimension
    LEFT-TO-RIGHT folds (≙ DuckDB list_dot_product bit for bit), so
    the full mine — bucketing, candidate join, verify cut — replays
    in SQL and the driver hash-checks it; approximation (recall < 1)
    is part of the contract, not noise, exactly as for
    `ext_dedup_minhash`'s banding.

    Physical shape, sized for corpus scale: one JVM-side generator
    projection (`_lsh_bucket_expr` — no Python, no Arrow round trip)
    emits (vec_id, embedding, tbl, bucket) — shuffle volume is
    vectors x L, never pairs; then `applyInPandas` per bucket group
    scores the bucket's pairwise euclidean distances with per-dim
    NumPy folds and emits only passing pairs; a final dropDuplicates
    dedups pairs found by multiple tables. The O(n^2) work is bounded per
    bucket, with oversized buckets salted into sub-block pair groups
    (see `lsh_candidate_pairs`), and the pair space is never
    materialized — an earlier equi-join+dedup variant shuffled the
    full candidate pair list and ran ~3x slower at sf0.1.

    Replaces Spark ML's BucketedRandomProjectionLSH.approxSimilarityJoin
    (same algorithm) which pays Vector-UDT conversion + non-codegen
    hashing per row. Recall vs brute force is asserted in
    tests/test_similarity.py."""
    def _build() -> DataFrame:
        e = (
            load(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            # finite-vector pin (upgraded from the r7 NULL pin in r11 to
            # match the oracle's universe; emission-invariant — a
            # non-finite vector's every distance is NaN/Inf and fails the
            # strict < threshold cut on both engines, it only ever
            # occupied bucket slots)
            .filter(F.expr(_fin_emb_spark()))
        )
        return lsh_candidate_pairs(spark, e, LSH_DIST_THRESHOLD)

    # The r13 `sim_lsh_fin_cand` session pin was DROPPED in r14
    # (verdict r13 item 2 — pin economics): this query was its only
    # consumer and the pinned frame WAS the query result minus the
    # presentation orderBy, so the pin only memoized the bench's
    # second pass. The mine runs per invocation again. (The
    # `sim_lsh_nn_cand` twin keeps its pin: `ext_sim_lsh_verify` and
    # `ext_sim_lsh_recall` both read it.)
    return _build().orderBy("vec_a", "vec_b")


@register(
    "ext_dedup_embcos_lsh",
    oracle=_lsh_pairs_oracle(
        EMBCOS_LSH_BUCKET_LEN,
        math.sqrt(2.0 - 2.0 * COS_DUP_THRESHOLD),
        True,
        "1.0 - dist * dist / 2.0 AS cos",
    ),
)
def ext_dedup_embcos_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed APPROXIMATE scale path for embedding-cosine
    near-dup mining: normalize vectors JVM-side to the unit sphere
    (where cos ≥ t ⟺ euclidean dist ≤ sqrt(2−2t)), reuse the salted
    LSH bucketing, and convert surviving distances back to cosines
    (cos = 1 − d²/2). Versus the exact `ext_dedup_embcos` triangle
    join this replaces O(N²) scored pairs with bucket-local work at
    the cost of recall — the classic SemDeDup-style trade. Recall vs
    the exact operator is asserted in tests/test_similarity.py, and
    since r11 the whole approximate mine is ALSO hard-oracle-checked
    (see `ext_sim_lsh` — same seeded-plane + fold-arithmetic replay,
    plus the float32 unit-normalization mirrored in SQL)."""

    e = (
        load(spark, sf_dir, "embeddings")
        # FINITE_EMB_BOUND pin (r9 ADVICE): the per-component bound is
        # the contract `ext_dedup_embcos_lsh_verify`'s oracle applies
        # (_fin_emb_duck) — a component in [1e150, ~1.3e154) has a
        # finite norm, so a norm-only check would emit pairs the
        # oracle excludes. Filter on the raw float column BEFORE the
        # double cast, same as the other similarity ops.
        .filter(F.expr(_fin_emb_spark()))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("dv"))
    )
    nrm = F.sqrt(F.expr(_DOT.format(a="dv", b="dv")))
    unit = (
        e.withColumn("nrm", nrm)
        # finite-norm pin (r9 nonfinite gate): kept as belt-and-braces
        # (zero vectors still have no unit vector; NaN > 0 is TRUE
        # under Spark's NaN-greatest comparisons, so the positivity
        # test alone would let NaN vectors through)
        .filter(
            (F.col("nrm") > 0)
            & F.expr("NOT isnan(nrm) AND nrm < CAST('Infinity' AS DOUBLE)")
        )
        .select(
            "vec_id",
            F.expr("transform(dv, x -> cast(x / nrm as float))").alias("embedding"),
        )
    )
    dist_t = math.sqrt(2.0 - 2.0 * COS_DUP_THRESHOLD)
    # wider buckets than the raw-space miner: threshold distances on
    # the unit sphere are O(1), so w must be of the same order for
    # near-threshold pairs to collide.
    # Session-pinned (r12): `ext_dedup_embcos_lsh_verify` and (via it)
    # `ext_dedup_embcos_pipeline_recall` consume this SAME pair frame —
    # 3 mines per full pass without the pin, one with it. (The
    # raw-space miner call sites are NOT shareable: verify/recall
    # deliberately mine over the weaker isNotNull universe.)
    pairs = session_pin(
        spark,
        sf_dir,
        "embcos_lsh_pairs",
        lambda: lsh_candidate_pairs(
            spark, unit, dist_t, bucket_len=EMBCOS_LSH_BUCKET_LEN
        ),
        source="embeddings.parquet",
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cos"),
    ).orderBy("vec_a", "vec_b")


@register(
    "ext_dedup_embcos_lsh_verify",
    oracle=(
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cos "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        f"WHERE {_COS_SQL} >= {COS_DUP_THRESHOLD} "
        # finite-vector pin (r9 nonfinite gate)
        f"AND {_fin_emb_duck('a.embedding')} AND {_fin_emb_duck('b.embedding')}"
    ),
)
def ext_dedup_embcos_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract for the APPROXIMATE cosine-dedup path
    (`ext_dedup_embcos_lsh` is additionally hash-checked end to end
    since r11 via the seeded-plane oracle replay): take the LSH
    candidate pairs and re-score them with the exact sequential-fold
    cosine JVM-side (`aggregate`/`zip_with` ≙ DuckDB
    `list_dot_product`, bit-identical), keeping only pairs at or above
    the threshold. Two guarantees become hash-checkable: PRECISION is
    exact by construction (every emitted pair provably satisfies
    cos ≥ t — deterministic even when recall isn't), and equality with
    the brute-force oracle additionally certifies 100% RECALL at the
    driver's SF (measured 1.0 at sf0.001 and sf0.01; a bucketing
    regression that drops a true pair now FAILS the driver check
    instead of hiding silently). Statistical recall at
    other scales stays asserted in tests/test_similarity.py.

    Scale shape: candidates ≪ corpus, so the re-score is two vec_id
    equi-joins (pairs against the embeddings table) + a scan-local
    fold — no new quadratic stage."""
    cand = ext_dedup_embcos_lsh(spark, sf_dir).select("vec_a", "vec_b")
    # the (vec_id, vector) side frame feeds BOTH pair joins — pin it
    # or each side re-scans embeddings (r6 scan audit)
    e = compute_once(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    joined = (
        cand.join(e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a")
        .join(e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b")
    )
    return (
        joined.select("vec_a", "vec_b", _cosine("va", "vb").alias("cos"))
        .filter(F.col("cos") >= COS_DUP_THRESHOLD)
    )


def _sim_lsh_nn_cand_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED raw-space LSH candidate mine over the
    isNotNull-embedding universe — the pair set BOTH
    `ext_sim_lsh_verify` (precision) and `ext_sim_lsh_recall`
    (recall numerator) audit, previously re-mined by each (r13
    optimization pass). Kept separate from the `sim_lsh_fin_cand`
    pin: the verify/recall oracles deliberately replay this weaker
    universe."""

    def _build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull()
        )
        return lsh_candidate_pairs(
            spark, emb.select("vec_id", "embedding"), LSH_DIST_THRESHOLD
        )

    return session_pin(
        spark, sf_dir, "sim_lsh_nn_cand", _build, source="embeddings.parquet"
    )


@register(
    "ext_sim_lsh_verify",
    oracle=(
        "SELECT CAST(NULL AS BIGINT) AS vec_a, CAST(NULL AS BIGINT) AS vec_b, "
        "CAST(NULL AS DOUBLE) AS dist, CAST(NULL AS DOUBLE) AS exact_dist "
        "WHERE 1 = 0"
    ),
)
def ext_sim_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable PRECISION contract for the raw-space LSH pair
    miner (`ext_sim_lsh` is additionally hash-checked end to end
    since r11 via the seeded-plane oracle replay): re-score every emitted
    candidate pair with the exact sequential-fold euclidean distance
    JVM-side and emit only CONTRACT VIOLATIONS — pairs whose exact
    distance exceeds the threshold (beyond a 1e-9 guard for the
    BLAS-vs-fold last-ULP gap) or whose emitted rounded distance
    disagrees with the exact one at 1e-6. The oracle is the empty
    relation: ANY violation row fails the driver's row-count check.

    Why not the equality contract its siblings use
    (`ext_dedup_embcos_lsh_verify`, `ext_sim_ivf_exhaustive`): this
    miner's parameters (L=6 tables, m=3 AND-hashes, w=0.25) tune a
    genuine recall/cost trade — measured recall at sf0.01 is ~0.66,
    so equality with brute force CANNOT hold by design, and recall
    stays a statistical pytest assertion. Precision, however, is
    supposed to be exact (bucket-local scoring emits only pairs it
    measured under the threshold) — a bucketing corruption, a wrong
    id mapping, or a distance bug that ever emits a far pair turns
    this query non-empty and fails the gate.

    Scale shape: candidates ≪ corpus² — two vec_id equi-joins plus a
    scan-local fold, no quadratic stage beyond the bucketed miner."""
    # the session-pinned nn-universe mine (shared with
    # ext_sim_lsh_recall, r13), NOT ext_sim_lsh: the registered miner
    # ends in a presentation orderBy whose global sort the two joins
    # below would immediately destroy — and deliberately mines the
    # weaker isNotNull universe the verify/recall oracles replay
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # NULL-embedding pin (r7 sweep): no vector, no similarity op
    )
    cand = _sim_lsh_nn_cand_pinned(spark, sf_dir)
    # pin the (vec_id, vector) side frame feeding both pair joins
    # (r6 scan audit)
    e = compute_once(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    joined = (
        cand.join(e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a")
        .join(e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b")
    )
    aa = F.expr(_DOT.format(a="va", b="va"))
    bb = F.expr(_DOT.format(a="vb", b="vb"))
    ab = F.expr(_DOT.format(a="va", b="vb"))
    exact = F.sqrt(F.greatest(F.lit(0.0), (aa + bb) - (F.lit(2) * ab)))
    scored = joined.select("vec_a", "vec_b", "dist", exact.alias("exact_dist"))
    return scored.filter(
        (F.col("exact_dist") >= LSH_DIST_THRESHOLD + 1e-9)
        # 1.5e-6, not 1e-6: one legitimate rounding-unit of disagreement
        # (np.round half-even vs Spark HALF_UP at a .5e-6 boundary) is a
        # double difference of ~1.0000000000288e-06 — the slack must
        # genuinely admit one grid step
        | (F.abs(F.col("dist") - F.round(F.col("exact_dist"), 6)) > 1.5e-6)
    )


LSH_RECALL_FLOOR_MILLIS = 500  # measured ~660 at sf0.001/sf0.01 (r5)
_D2_THRESHOLD = LSH_DIST_THRESHOLD * LSH_DIST_THRESHOLD


def _exact_dist2_pairs(spark: SparkSession, e: DataFrame, d2_threshold: float) -> DataFrame:
    """Brute-force (vec_a, vec_b) pairs with squared euclidean distance
    under ``d2_threshold``: the block triangle join of
    `ext_dedup_embcos` with the d² cut. d² is `_fold_d2`, so the
    threshold comparison is bit-identical to the SQL oracle — no
    BLAS-reordering flakiness at the boundary. Exact and quadratic by
    contract: this is the verification denominator, never a serving
    path; per-task memory stays ≤ 2N/B vectors."""

    def score(ids_a, mat_a, ids_b, mat_b, same_block):
        keep = _tri_mask(ids_a, ids_b, same_block)
        return _pair_rows(ids_a, ids_b, keep & (_fold_d2(mat_a, mat_b) < d2_threshold))

    return _block_triangle(e, EMBCOS_BLOCKS, score, "vec_a bigint, vec_b bigint")


@register(
    "ext_sim_lsh_recall",
    oracle=(
        "WITH bf AS (SELECT count(*) AS total_pairs FROM embeddings a "
        "JOIN embeddings b ON a.vec_id < b.vec_id WHERE "
        "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) "
        "+ list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) "
        "- 2 * list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) "
        f"< {_D2_THRESHOLD!r}) "
        f"SELECT total_pairs, CAST({LSH_RECALL_FLOOR_MILLIS} AS BIGINT) "
        "AS recall_floor_millis, TRUE AS meets_floor FROM bf"
    ),
)
def ext_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible RECALL contract for the LSH pair miner — the
    half `ext_sim_lsh_verify` (precision) leaves open (VERDICT r4,
    What's-missing #3): one row

        (total_pairs, recall_floor_millis, meets_floor)

    where total_pairs is the BRUTE-FORCE count of unordered pairs
    under LSH_DIST_THRESHOLD (exact — the block triangle join with
    index-order folds, bit-identical to the oracle's
    list_dot_product arithmetic, so the denominator hash-matches
    DuckDB exactly) and meets_floor asserts found·1000 ≥
    total·LSH_RECALL_FLOOR_MILLIS over the miner's candidate count —
    pure integer arithmetic, no float recall value in the contract.
    The oracle pins total_pairs and expects meets_floor = TRUE: a
    bucketing regression that drops recall below the floor (measured
    ~660 millis at sf0.001/sf0.01 with the seeded projections; floor
    500 leaves honest noise margin) flips the boolean and fails the
    driver's value hash. (Since r11 the miner's own oracle replays
    the seeded projections exactly, so the found count IS also
    SQL-expressible — this floor contract is kept as the
    SF-independent statement of the recall requirement: the
    miner's hash check certifies the r-sf0.01 pair set, the floor
    certifies the property a larger corpus must keep; the precise
    recall value stays a pytest assertion.)

    Scale shape: the miner side is the production path (vectors×L
    shuffle); the brute-force denominator is quadratic BY CONTRACT
    and runs only at verification SF — the same asymmetry as
    `ext_sim_ivf_exhaustive`."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())  # NULL-embedding pin (r7 sweep): no vector, no similarity op
    )
    # numerator reads the session-pinned nn-universe mine shared with
    # ext_sim_lsh_verify (r13) instead of re-mining per invocation
    found = _sim_lsh_nn_cand_pinned(spark, sf_dir).agg(
        F.count("*").alias("found")
    )
    total = _exact_dist2_pairs(spark, e, _D2_THRESHOLD).agg(
        F.count("*").alias("total_pairs")
    )
    return total.crossJoin(F.broadcast(found)).select(
        "total_pairs",
        F.lit(LSH_RECALL_FLOOR_MILLIS).cast("long").alias("recall_floor_millis"),
        (
            F.col("found") * F.lit(1000)
            >= F.col("total_pairs") * F.lit(LSH_RECALL_FLOOR_MILLIS)
        ).alias("meets_floor"),
    )


# Shared recursive-CTE fragment: exact embcos threshold pairs ->
# undirected edges -> reachability -> comp(vec_id, component) with
# component = min reachable vec_id over the ALL-embeddings universe.
# Consumed by the `ext_dedup_semantic` oracle AND the
# `ext_dedup_embcos_pipeline_recall` oracle — the recall
# certificate's "same chain" claim requires these CTEs to stay
# character-identical, so they live once.
_EMBCOS_COMP_CTES = (
    "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    f"WHERE {_COS_SQL} >= {COS_DUP_THRESHOLD} "
    f"AND {_fin_emb_duck('a.embedding')} "
    f"AND {_fin_emb_duck('b.embedding')}), "
    "edges AS (SELECT vec_a AS src, vec_b AS dst FROM p "
    "UNION ALL SELECT vec_b, vec_a FROM p), "
    "reach(node, lbl) AS ("
    "  SELECT vec_id, vec_id FROM embeddings "
    "  UNION "
    "  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node), "
    "comp AS (SELECT node AS vec_id, min(lbl) AS component "
    "FROM reach GROUP BY node)"
)


def _embcos_lss_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SHARED LSS component assignment (vec_id, component) over
    the pinned exact embcos pair graph — the embcos twin of
    dedup._lss_components_shared (r13 optimization pass, guide §2.4:
    remove repeated work outright). `ext_dedup_semantic` and
    `ext_dedup_embcos_pipeline_recall`'s exact arm previously EACH ran
    the large-star/small-star contraction — an eager driver-coordinated
    loop of join+agg jobs — per invocation (3 contractions per full
    bench pass over the same pinned pair graph). One pin per
    (app, embeddings-fingerprint) makes it one contraction per session;
    the assignment frame is SLIM (two ids per vector)."""

    def _build() -> DataFrame:
        from .dedup import _large_small_star

        e = load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id")
        )
        pairs = ext_dedup_embcos(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        return _large_small_star(e, pairs).select(
            F.col("doc_id").alias("vec_id"), "component"
        )

    return session_pin(
        spark, sf_dir, "embcos_lss", _build, source="embeddings.parquet"
    )


def _embcos_lsh_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSS component assignment over the rescored LSH pair set
    (`ext_dedup_embcos_lsh_verify`) — the approximate arm's half of
    the `ext_dedup_embcos_pipeline_recall` certificate. Its r13
    `embcos_lsh_lss` session pin was converted to a within-invocation
    `compute_once` in r14 (verdict r13 item 2): the assignment has
    exactly ONE consuming query, which reads it twice (keeper count +
    keeper join), so the honest sharing scope is common-subexpression
    elimination inside that invocation, not a cross-invocation memo.
    The star contraction itself reads the still-shared
    `embcos_lsh_pairs` pin, so the expensive mine stays
    session-shared."""
    from .dedup import _large_small_star

    universe = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    lsh_pairs = ext_dedup_embcos_lsh_verify(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return compute_once(
        _large_small_star(universe, lsh_pairs).select(
            F.col("doc_id").alias("vec_id"), "component"
        )
    )



@register(
    "ext_dedup_semantic",
    oracle=(
        f"WITH RECURSIVE {_EMBCOS_COMP_CTES}, "
        "sz AS (SELECT component, count(*) AS cluster_size FROM comp "
        "GROUP BY component) "
        "SELECT c.vec_id, c.component, s.cluster_size, "
        "(c.vec_id = c.component) AS is_keeper "
        "FROM comp c JOIN sz s USING (component)"
    ),
)
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped SEMANTIC dedup end to end: exact embedding-
    cosine near-dup pairs (`ext_dedup_embcos`, cos ≥ threshold) →
    connected components via large-star/small-star → full cluster
    assignment with a keeper flag (keeper = the component's min
    vec_id; downstreams drop `NOT is_keeper` rows). Composes three
    proven stages into the pipeline a semantic-dedup run actually
    executes, and stays hash-checked end to end (recursive-CTE
    oracle over the same threshold join).

    Scale shapes are inherited: the pair stage is the block triangle
    join (exact by contract — the production swap is the salted-LSH
    miner `ext_dedup_embcos_lsh`, same downstream graph machinery);
    components run O(log² n) star-contraction rounds regardless of
    cluster-chain diameter — ONCE per session via the
    `_embcos_lss_pinned` seam (r13) — sizes ride one window on the
    component key. Output is the full assignment, not just keepers, so
    retention ratios per cluster are visible to curation reports."""
    comp = _embcos_lss_pinned(spark, sf_dir)
    w = W.partitionBy("component")
    return comp.select(
        "vec_id",
        "component",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("vec_id") == F.col("component")).alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# End-to-end SEMANTIC-dedup recall certificate — the embcos twin of
# `ext_dedup_pipeline_recall` (dedup.py): `ext_dedup_semantic` (exact
# triangle-join pairs -> components -> min-id keeper) and the
# LSH-mined arm (`ext_dedup_embcos_lsh` candidates, exact-rescored by
# the `_verify` device -> SAME component machinery -> keeper) promise
# to be the same chain with the pair stage swapped. The `_verify`
# query certifies the swap at the PAIR level; this certifies it at
# the OUTPUT level — the surviving vector sets. Every rescored LSH
# pair provably satisfies cos >= t, so the LSH dup-graph is a
# subgraph of the exact one: its components refine the exact
# components, forcing two auditable invariants —
#   keep_exact <= keep_lsh   (finer components => more keepers)
#   keep_common = keep_exact (an exact keeper is the min vec_id of
#                             its component, hence the min of any
#                             LSH subcomponent containing it)
# plus the quality number removal_recall_pm. The oracle's LSH arm is
# the exact arm itself: measured LSH recall at driver SFs is 1.0 (the
# `ext_dedup_embcos_lsh_verify` contract), so keep_lsh == keep_exact
# there — a bucketing regression that drops a true pair now FAILS
# this hash check instead of hiding in the miner. (Since r11 the
# miner ALSO carries its own seeded-plane oracle replay; this
# output-level certificate keeps the simpler exact-arm oracle — the
# equality IS the statement being certified.) At other
# scales the statistical-recall assertion lives in
# tests/test_similarity.py, same asymmetry as the `_recall` floors.

_EMB_PIPE_RECALL_ORACLE = (
    f"WITH RECURSIVE {_EMBCOS_COMP_CTES}, "
    "tot AS (SELECT (SELECT count(*) FROM embeddings) AS n, "
    "(SELECT count(*) FROM comp WHERE vec_id = component) AS ke) "
    "SELECT CAST(n AS BIGINT) AS n_vectors, "
    "CAST(ke AS BIGINT) AS keep_exact, "
    "CAST(ke AS BIGINT) AS keep_lsh, "
    "CAST(ke AS BIGINT) AS keep_common, "
    "CAST(n - ke AS BIGINT) AS removed_exact, "
    "CAST(n - ke AS BIGINT) AS removed_lsh, "
    "CAST((n - ke) * 1000 // nullif(n - ke, 0) AS BIGINT) "
    "AS removal_recall_pm FROM tot"
)


@register("ext_dedup_embcos_pipeline_recall", oracle=_EMB_PIPE_RECALL_ORACLE)
def ext_dedup_embcos_pipeline_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-level recall certificate for the semantic-dedup swap
    (section comment above): runs the exact chain
    (`ext_dedup_semantic`) and the LSH chain (rescored
    `ext_dedup_embcos_lsh_verify` pairs through the same
    large-star/small-star components + min-id keeper) on the same
    corpus and compares the surviving keeper sets. One row:
    (n_vectors, keep_exact, keep_lsh, keep_common, removed_exact,
    removed_lsh, removal_recall_pm) — all exact BIGINTs, the permille
    an integer floor division, hash-checkable end to end.

    Scale shape: composes two audited plans; the exact arm reads the
    `embcos_lss` SESSION pin (it has a second consumer,
    `ext_dedup_semantic`); the LSH arm's assignment is built per
    invocation with a within-invocation `compute_once` for its
    count+join double consumption (`_embcos_lsh_lss` — r14, verdict
    r13 item 2: this query is its only consumer, so cross-invocation
    pinning was memoization, not sharing). Per query this is three
    scalar aggs plus one keeper-keyed join of two already-deduplicated
    id sets over the LSH arm's one star contraction.
    The exact arm's triangle join is the audit's cost by definition —
    at 100 TB the certificate runs on an IVF-bin or LSH-bucket SAMPLE
    (every stage keys on vec_id-derived values, so the
    bucket-composability note on `ext_dedup_minhash_eval` applies
    verbatim)."""
    universe = load(spark, sf_dir, "embeddings").select("vec_id")
    ke = (
        _embcos_lss_pinned(spark, sf_dir)
        .filter(F.col("vec_id") == F.col("component"))
        .select("vec_id")
    )
    kl = (
        _embcos_lsh_lss(spark, sf_dir)
        .filter(F.col("vec_id") == F.col("component"))
        .select("vec_id")
    )
    n = universe.agg(F.count("*").alias("n_vectors"))
    ea = ke.agg(F.count("*").alias("keep_exact"))
    la = kl.agg(F.count("*").alias("keep_lsh"))
    ca = ke.join(kl, "vec_id").agg(F.count("*").alias("keep_common"))
    return (
        n.crossJoin(ea)
        .crossJoin(la)
        .crossJoin(ca)
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("keep_exact").cast("long").alias("keep_exact"),
            F.col("keep_lsh").cast("long").alias("keep_lsh"),
            F.col("keep_common").cast("long").alias("keep_common"),
            (F.col("n_vectors") - F.col("keep_exact"))
            .cast("long")
            .alias("removed_exact"),
            (F.col("n_vectors") - F.col("keep_lsh"))
            .cast("long")
            .alias("removed_lsh"),
            F.expr(
                "(n_vectors - keep_lsh) * 1000"
                " div nullif(n_vectors - keep_exact, 0)"
            )
            .cast("long")
            .alias("removal_recall_pm"),
        )
    )


KNN_K = 3


@register(
    "ext_sim_knn_graph",
    oracle=(
        f"WITH c AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, "
        f"{_COS_SQL} AS cos FROM embeddings a JOIN embeddings b "
        "ON b.vec_id != a.vec_id "
        # finite-vector pin
        f"WHERE {_fin_emb_duck('a.embedding')} "
        f"AND {_fin_emb_duck('b.embedding')}), "
        "r AS (SELECT vec_id, neighbor_id, cos, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM c) "
        f"SELECT vec_id, neighbor_id, cos, rank FROM r WHERE rank <= {KNN_K}"
    ),
)
def ext_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph over the WHOLE corpus (every vector's top-k
    cosine neighbors) — the input SemDeDup-style semantic clustering
    and graph-based curation build on, distinct from `ext_sim_topk`'s
    few-queries serving shape.

    Physical strategy: the block triangle join of `ext_dedup_embcos`
    (`_block_triangle`) plus a PER-BLOCK PARTIAL TOP-K — the map-side-combine idea
    applied to kNN. Each of the B(B+1)/2 block-pair tasks scores its
    two blocks with NumPy and emits only each vector's k best
    neighbors WITHIN THAT PAIR (both directions), so the shuffle into
    the final per-vector window carries ≤ N·B·k candidate rows —
    never the N² pair space. Exactness: under the total order
    (cos DESC, neighbor_id ASC) the global top-k is always a subset
    of the union of per-block top-ks, so the window rank over
    candidates equals the rank over all pairs. Cosines are
    `_fold_cos` (the `list_dot_product` sequential fold), so values,
    ordering, and therefore ranks are bit-identical to the SQL
    oracle. Quadratic compute by contract (it is the EXACT
    graph); at 100 TB the same per-block partial top-k rides the
    LSH/IVF candidate generators instead of the full triangle."""
    import numpy as np

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.expr(_fin_emb_spark()))  # finite-vector pin
    )

    def partial_topk(ids_q, ids_n, cos, not_self):
        # per row of cos: k best columns under (cos DESC, neighbor ASC)
        out = []
        for r in range(cos.shape[0]):
            idx = np.arange(len(ids_n))
            if not_self:
                idx = idx[ids_n != ids_q[r]]
            if len(idx) == 0:
                continue
            pick = idx[np.lexsort((ids_n[idx], -cos[r, idx]))[:KNN_K]]
            out.append((np.full(len(pick), ids_q[r]), ids_n[pick], cos[r, pick]))
        return out

    def score(ids_a, mat_a, ids_b, mat_b, same_block):
        cos, _ = _fold_cos(mat_a, mat_b)
        parts = partial_topk(ids_a, ids_b, cos, same_block)
        if not same_block:  # reverse direction: block j's vectors vs block i
            parts += partial_topk(ids_b, ids_a, cos.T, False)
        if not parts:
            return None
        q, n, c = (np.concatenate(x) for x in zip(*parts))
        return {"vec_id": q, "neighbor_id": n, "cos": c}

    cand = _block_triangle(
        e, EMBCOS_BLOCKS, score, "vec_id bigint, neighbor_id bigint, cos double"
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


@register(
    "ext_emb_norm",
    # embedding IS NOT NULL: the r7 "no vector, no similarity op"
    # rule applies to the census too — DuckDB's list_dot_product
    # HARD-ERRORS on a NULL vector where Spark's fold reads NULL
    # (r8 NULL sweep)
    oracle=(
        "WITH n AS (SELECT vec_id, label, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS l2_norm FROM embeddings "
        "WHERE embedding IS NOT NULL) "
        "SELECT vec_id, label, l2_norm, "
        "(abs(l2_norm - CAST(1.0 AS DOUBLE)) <= CAST(0.01 AS DOUBLE)) "
        "AS near_unit FROM n"
    ),
)
def ext_emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm census — the sanity pass before any cosine
    workload (un-normalized or zero vectors poison ANN indexes and
    distance thresholds; production pipelines gate on it). Norm² is
    the same float32→float64 sequential fold the similarity operators
    use (`aggregate`/`zip_with` ≙ DuckDB `list_dot_product`), so the
    hash comparison is exact. Scan-local map over the vector column,
    no shuffle — at 100 TB this fuses into whatever embedding op runs
    next. NULL pin (r8 sweep): no vector, no norm — excluded on both
    engines (DuckDB's list_dot_product hard-errors on NULL)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("dv")
        )
    )
    norm = F.sqrt(
        F.expr(
            "aggregate(zip_with(dv, dv, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )
    return e.select(
        "vec_id",
        "label",
        norm.alias("l2_norm"),
        (F.abs(norm - F.lit(1.0)) <= F.lit(0.01)).alias("near_unit"),
    )


_QUANTIZE_ORACLE = """
WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM s),
c AS (SELECT vec_id, amax / 127.0 AS scale,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> 0)
             ELSE list_transform(dv, x -> greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS INTEGER)))) END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE))
SELECT vec_id, scale,
       CAST(list_sum(codes) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(codes, v -> abs(v))) AS BIGINT) AS q_l1,
       CAST(len(list_filter(codes, v -> abs(v) = 127)) AS BIGINT) AS n_sat
FROM c
"""


@register("ext_emb_quantize", oracle=_QUANTIZE_ORACLE)
def ext_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization — the compression pass every
    billion-vector ANN index runs before storage (4x smaller than
    float32, SIMD-friendly integer dot products). Per-vector absmax
    scaling: scale = max|x| / 127, code = clamp(round(x / scale)).
    Rounding is written as floor(y + 0.5) on BOTH sides so the
    half-way rule is a single IEEE-exact expression rather than two
    engines' round() conventions; every emitted statistic (code sum,
    L1 mass, saturation count) is then an exact integer, and `scale`
    is the same float32→float64 fold both engines compute
    bit-identically (the `ext_emb_norm` device). Zero vectors get an
    all-zero code block instead of a 0/0 NaN.

    Plan: pure scan-local column expressions over the vector column —
    transform/array_max/aggregate, zero Python, ZERO shuffle. At
    100 TB this is a map-only pass that fuses into the scan, which is
    the whole point: quantization must not cost a data motion.
    Downstream, `ext_sim_ivf`'s bucket scoring would read the int8
    codes + scale instead of the float array (asymmetric scoring:
    float query x int8 corpus)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("dv")
    )
    m = e.withColumn(
        "amax", F.expr("array_max(transform(dv, x -> abs(x)))")
    ).where(FINITE_AMAX_SQL)
    codes = F.expr(
        "CASE WHEN amax = 0.0 THEN transform(dv, x -> 0) "
        "ELSE transform(dv, x -> greatest(-127, least(127, "
        "cast(floor(x / (amax / 127.0) + 0.5d) as int)))) END"
    )
    return m.withColumn("codes", codes).select(
        "vec_id",
        (F.col("amax") / F.lit(127.0)).alias("scale"),
        F.expr("cast(aggregate(codes, 0L, (a, v) -> a + v) as long)").alias("q_sum"),
        F.expr("cast(aggregate(codes, 0L, (a, v) -> a + abs(v)) as long)").alias(
            "q_l1"
        ),
        F.expr("cast(size(filter(codes, v -> abs(v) = 127)) as long)").alias("n_sat"),
    )


_INT8_SCORED_SQL = (
    "cast(aggregate(zip_with(qc, cc, (x, y) -> cast(x as bigint) * y), "
    "0L, (a, v) -> a + v) as long)"
)

# Quantize CTEs (s, m, z) shared by the int8 top-k oracle and the
# hybrid rank-fusion oracle — one quantization definition.
INT8_Z_CTES = """s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM s),
z AS (SELECT vec_id, amax / 127.0 AS scale,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)))) END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE))"""

_TOPK_INT8_ORACLE = f"""
WITH {INT8_Z_CTES},
q AS (SELECT vec_id AS query_id, scale AS qs, codes AS qc FROM z
      WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS neighbor_id, scale AS cs, codes AS cc FROM z),
sc AS (SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(qc)),
             i -> qc[i] * cc[i])) AS BIGINT) AS int_dot,
        qs, cs
       FROM q, c WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, int_dot,
       CAST(int_dot AS DOUBLE) * (qs * cs) AS score, rank
FROM (SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id
        ORDER BY CAST(int_dot AS DOUBLE) * (qs * cs) DESC, neighbor_id)
      AS BIGINT) AS rank FROM sc)
WHERE rank <= {TOP_K}
"""


# Finite-domain gate for the int8 quantization family (r9 nonfinite
# ORACLE gate finding): a NaN/±inf component makes amax non-finite,
# where Spark's ANSI cast silently reads floor(NaN+0.5) as 0 while
# DuckDB's CAST hard-errors — a silent-garbage-vs-crash fork. The
# portable contract: NON-FINITE VECTORS LEAVE THE QUANTIZED UNIVERSE
# (same shape as FINITE_VALUE_SQL for the cents devices; NULL
# embeddings leave with them via the NULL comparison). NaN sorts
# ABOVE +Infinity on BOTH engines, so isnan + the < Infinity clause
# each exclude it redundantly. The literal is replicated verbatim in
# the six oracle CTEs that inline this device.
FINITE_AMAX_SQL = "NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE)"


def _with_int8_codes(df: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Per-vector absmax int8 quantization (the `ext_emb_quantize`
    scheme): adds `scale` double and `codes` array<bigint> beside
    vec_id (plus any `extra_cols` passed through, e.g. the label).
    floor(y + 0.5) rounding — ONE IEEE-exact rule, living in exactly
    one string, shared with the DuckDB oracles. Vectors with any
    non-finite component are EXCLUDED (FINITE_AMAX_SQL contract)."""
    m = df.select(
        "vec_id", *extra_cols, F.col("embedding").cast("array<double>").alias("dv")
    ).withColumn("amax", F.expr("array_max(transform(dv, x -> abs(x)))"))
    m = m.where(FINITE_AMAX_SQL)
    return m.select(
        "vec_id",
        *extra_cols,
        (F.col("amax") / F.lit(127.0)).alias("scale"),
        F.expr(
            "CASE WHEN amax = 0.0 THEN transform(dv, x -> 0L) "
            "ELSE transform(dv, x -> greatest(-127L, least(127L, "
            "cast(floor(x / (amax / 127.0) + 0.5d) as bigint)))) END"
        ).alias("codes"),
    )


@register("ext_sim_topk_int8", oracle=_TOPK_INT8_ORACLE)
def ext_sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned int8 serving rung (r13 optimization pass):
    `ext_retrieval_eval` consumes this SAME Q×k table, so the
    quantize+score corpus pass ran twice per session before. See
    `_sim_int8_build` for the full contract."""
    return session_pin(
        spark,
        sf_dir,
        "sim_int8_topk",
        lambda: _sim_int8_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _sim_int8_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k similarity over the COMPRESSED index: both sides int8-
    quantized (`ext_emb_quantize`'s scheme), scored by the exact
    integer dot product of the code vectors rescaled by the two
    per-vector scales — the SIMD int8 kernel every billion-vector
    serving stack runs instead of float32 math. The integer dot is
    exact (BIGINT on both engines) and the rescale is one double
    multiply of bit-identical operands, so ranking and hash both
    reproduce; recall vs the float32 `ext_sim_topk` ranking is a
    pytest statistic (quantization error is a tuned trade, same
    policy as the LSH/IVF paths).

    Plan shape is `ext_sim_topk`'s: quantization fuses into the two
    scans (zero extra motion), the 5-row query side broadcasts, the
    corpus streams through one map-only scoring stage, and the
    per-query window ranks ≤ N·k candidates. At 100 TB the corpus
    side reads int8 codes — 4x less parquet IO than the float path,
    which is the entire point of the operator."""
    e = load(spark, sf_dir, "embeddings")
    z = _with_int8_codes(e)
    q = z.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qs"),
        F.col("codes").alias("qc"),
    )
    c = z.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("scale").alias("cs"),
        F.col("codes").alias("cc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("int_dot", F.expr(_INT8_SCORED_SQL))
        .withColumn(
            "score", F.col("int_dot").cast("double") * (F.col("qs") * F.col("cs"))
        )
        .select("query_id", "neighbor_id", "int_dot", "score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "int_dot", "score", "rank")
    )


IVF_RECALL_FLOOR_MILLIS = 700  # measured ~860-900 at sf0.001-0.1


@register(
    "ext_sim_ivf_recall",
    oracle=(
        f"WITH t AS ({_TOPK_ORACLE}) "
        "SELECT CAST(count(*) AS BIGINT) AS total_slots, "
        f"CAST({IVF_RECALL_FLOOR_MILLIS} AS BIGINT) AS recall_floor_millis, "
        "TRUE AS meets_floor FROM t"
    ),
)
def ext_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall@k floor for the APPROXIMATE IVF path —
    the symmetric twin of `ext_sim_lsh_recall` (that one covers the
    pair miner; this one covers query serving, completing the r4
    What's-missing #3 closure for both approximate families). One row

        (total_slots, recall_floor_millis, meets_floor)

    where total_slots is the exact-top-k result count (oracle-pinned
    by the same ranked SQL as `ext_sim_topk`, so ties and short
    result sets stay honest) and meets_floor asserts found·1000 ≥
    total·floor with found = |IVF top-k ∩ exact top-k| — pure integer
    arithmetic, no float recall in the contract. A quantizer or
    probe-selection regression that drops recall below the floor
    (measured 860–900 millis across all three driver SFs; floor 700
    leaves noise margin) flips the boolean and fails the driver's
    value hash. (Since r11 the quantizer training replays in SQL —
    `_ivf_oracle` — so the found count is also expressible; the
    floor stays as the SF-independent recall contract, the precise
    recall a pytest statistic.)

    Scale: both sides are the existing operators' plans (broadcast
    query side, map-only scoring, window top-k); the intersection is
    a 50-row join. Nothing quadratic beyond what `ext_sim_topk`
    already is at verification SF."""
    # the exact 50-row result frame feeds the total AND the
    # intersection — pin it or the brute-force chain replays per
    # branch (r6 scan audit); approx has ONE consumer, so no pin
    exact = compute_once(
        ext_sim_topk(spark, sf_dir).select("query_id", "neighbor_id")
    )
    approx = ext_sim_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    total = exact.agg(F.count("*").alias("total_slots"))
    found = exact.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count("*").alias("found")
    )
    return total.crossJoin(F.broadcast(found)).select(
        F.col("total_slots").cast("long").alias("total_slots"),
        F.lit(IVF_RECALL_FLOOR_MILLIS).cast("long").alias("recall_floor_millis"),
        (
            F.col("found") * F.lit(1000)
            >= F.col("total_slots") * F.lit(IVF_RECALL_FLOOR_MILLIS)
        ).alias("meets_floor"),
    )


# ------------------------------------------- label balance report

_LABEL_BALANCE_ORACLE = """
WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
           FROM embeddings GROUP BY 1),
t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
             CAST(max(n_vecs) AS BIGINT) AS mx FROM c)
SELECT c.label, c.n_vecs,
       CAST(c.n_vecs * 1000 // t.total AS BIGINT) AS share_permille,
       CAST(c.n_vecs * 1000 // t.mx AS BIGINT) AS ratio_to_max_permille
FROM c, t
"""


@register("ext_label_balance", oracle=_LABEL_BALANCE_ORACLE)
def ext_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-label balance report over the embedding corpus: per
    label the vector count, corpus share, and ratio to the largest
    class — the class-imbalance audit run before any sampling /
    reweighting decision (`ext_sample_mixture`'s weights and a
    loss-reweighting config are both read off this table).

    Exact integer permilles; the totals cross in as a broadcast
    2-scalar aggregate. One label-keyed count with map-side partials
    is the only corpus-width motion."""
    c = compute_once(
        load(spark, sf_dir, "embeddings").groupBy("label").agg(
            F.count("*").alias("n_vecs")
        )
    )
    t = c.agg(
        F.sum("n_vecs").alias("total"), F.max("n_vecs").alias("mx")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n_vecs",
        F.expr("n_vecs * 1000 div total").alias("share_permille"),
        F.expr("n_vecs * 1000 div mx").alias("ratio_to_max_permille"),
    )


# -------------------------------------- class centroids (int8 space)

_CENTROID_ORACLE = """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM q),
c AS (SELECT vec_id,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> CAST(greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS INTEGER))) AS BIGINT))
        END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE)),
lab AS (SELECT e.vec_id, e.label, c.codes FROM embeddings e
        JOIN c ON c.vec_id = e.vec_id),
pos AS (SELECT label, codes, unnest(generate_series(1, len(codes))) AS d
        FROM lab),
cell AS (SELECT label, CAST(d - 1 AS BIGINT) AS dim,
                CAST(sum(codes[CAST(d AS INT)]) AS BIGINT) AS code_sum,
                CAST(count(*) AS BIGINT) AS n_vecs
         FROM pos GROUP BY 1, 2)
SELECT label, dim, n_vecs, code_sum,
       CAST(code_sum * 1000000 // n_vecs AS BIGINT) AS centroid_micros
FROM cell
"""


@register("ext_emb_centroids_int8", oracle=_CENTROID_ORACLE)
def ext_emb_centroids_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids in int8 code space — the class
    prototypes behind nearest-centroid classification, SemDeDup-style
    cluster seeding, and drift monitoring between embedding model
    versions. Computed over `ext_emb_quantize`'s codes rather than
    raw floats BECAUSE float summation is order-dependent (a
    non-starter for the hash contract and for reproducible centroids
    across partitionings) while int8 code sums are exact BIGINTs
    under any aggregation order; the mean is an integer
    micro-division.

    Scale shape: quantization stays scan-local; the transpose
    explode emits (label, dim, code) ints and the (label, dim)
    keyed agg takes map-side partials, so per-task output is bounded
    by labels × dims regardless of corpus size. No driver-side
    vectors."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    codes = _with_int8_codes(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "codes"
    )
    lab = e.join(codes, "vec_id")
    cell = (
        lab.select(
            "label", F.posexplode(F.col("codes")).alias("dim", "code")
        )
        .groupBy("label", "dim")
        .agg(F.sum("code").alias("code_sum"), F.count("*").alias("n_vecs"))
    )
    return cell.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        "n_vecs",
        "code_sum",
        F.expr("code_sum * 1000000 div n_vecs").alias("centroid_micros"),
    )


# ------------------------------------ integer Gram matrix (PCA input)

_GRAM_ORACLE = """
WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM s),
z AS (SELECT vec_id,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)))) END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE))
SELECT ii AS i, jj AS j,
       CAST(sum(codes[ii] * codes[jj]) AS BIGINT) AS gram
FROM z
-- ORACLE DIM CAP: the range(1, 256) lattice bounds checkable
-- dimensionality at 255; with d >= 256 the oracle would silently
-- truncate while Spark emits the full triangle (row-count mismatch,
-- caught by the driver). Fixture d = 64; raise both 256s together
-- if the embeddings testdata ever widens past 255 dims.
CROSS JOIN range(1, 256) t(ii) CROSS JOIN range(1, 256) u(jj)
WHERE ii <= len(codes) AND jj >= ii AND jj <= len(codes)
GROUP BY ii, jj
"""


@register("ext_emb_gram_int8", oracle=_GRAM_ORACLE)
def ext_emb_gram_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed d x d Gram matrix over the int8-quantized embedding
    corpus — the sufficient statistic for PCA / whitening / OPQ
    rotation training, which no billion-vector pipeline computes by
    collecting vectors to one machine. Output: upper-triangle rows
    (i, j, gram) with 1-based dimension indices and EXACT integer
    sums over `ext_emb_quantize`'s codes (int8 products bound each
    term at 127^2, so int64 holds corpora to ~5e14 vectors; the
    driver-side d x d eigendecomposition that follows is O(d^3),
    microseconds at d=64, and out of engine scope by design).

    Scale shape: the classic two-phase matrix product — mapInPandas
    accumulates ONE d x d int64 partial per Arrow batch stream
    (numpy C^T C inside the task, zero per-row Python), emits d(d+1)/2
    compact rows per PARTITION, and a (i, j)-keyed hash agg sums the
    P partials. Data motion is P x 2080 rows regardless of corpus
    size — the vectors themselves never shuffle. That partial-
    then-merge shape is what `ext_emb_centroids_int8` does per label,
    lifted to the full second-moment matrix.

    Session-pinned since r13 (optimization pass): `ext_emb_anisotropy`
    consumes this SAME d(d+1)/2-row statistic for its power iteration,
    so the corpus pass ran twice per invocation set before; the pinned
    frame is 2080 rows at d=64."""
    return session_pin(
        spark,
        sf_dir,
        "emb_gram",
        lambda: _emb_gram_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _emb_gram_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual partial-merge Gram plan (built once per session by
    the pin seam above)."""
    import numpy as np
    import pandas as pd

    z = _with_int8_codes(
        load(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull()  # NULL-embedding pin (r7 sweep): no vector, no similarity op
        )
    )

    def partials(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            g = mat.T @ mat
            acc = g if acc is None else acc + g
        if acc is not None:
            d = acc.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int64"),
                    "j": (ju + 1).astype("int64"),
                    "partial": acc[iu, ju],
                }
            )

    parts = z.select("codes").mapInPandas(
        partials, schema="i long, j long, partial long"
    )
    return parts.groupBy("i", "j").agg(F.sum("partial").alias("gram"))


# ----------------------------- semantic eval-set decontamination

SEM_EVAL_VECS = 20  # vec_id < 20 stand in for the eval/benchmark set
SEM_CONTAM_THRESHOLD = 0.3


_SEM_CONTAM_ORACLE = f"""
WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {SEM_EVAL_VECS}),
co AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {SEM_EVAL_VECS}),
sc AS (SELECT co.vec_id AS vec_id, ev.vec_id AS eval_id,
        list_dot_product(CAST(ev.embedding AS DOUBLE[]), CAST(co.embedding AS DOUBLE[])) /
        (sqrt(list_dot_product(CAST(ev.embedding AS DOUBLE[]), CAST(ev.embedding AS DOUBLE[]))) *
         sqrt(list_dot_product(CAST(co.embedding AS DOUBLE[]), CAST(co.embedding AS DOUBLE[])))) AS cos
       FROM ev JOIN co ON true),
m AS (SELECT vec_id, max({{'cos': cos, 'nid': -eval_id}}) AS m FROM sc GROUP BY vec_id)
SELECT vec_id, -m.nid AS best_eval_id, m.cos AS max_cos,
       m.cos >= {SEM_CONTAM_THRESHOLD} AS contaminated
FROM m
"""


@register("ext_contamination_semantic", oracle=_SEM_CONTAM_ORACLE)
def ext_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval-set decontamination: every corpus vector scored
    by its maximum cosine against the (bounded) eval/benchmark
    embedding set, with the nearest eval item and a contamination
    flag at 0.3 — the embedding-space counterpart of
    `ext_contamination_check` (which catches verbatim n-gram overlap;
    paraphrased leakage only shows up here). Same shape GPT-4/Llama
    decontamination pipelines run before training.

    Scale shape: the eval set is broadcast BY CONSTRUCTION (eval
    benchmarks are thousands of rows, never corpus-sized), so
    scoring is map-side — each corpus partition scores locally and
    partial-max combines before the single N-row shuffle of
    (vec_id, max) pairs. No corpus self-join exists; cost is
    N x |eval| fused multiply-adds, embarrassingly parallel. The
    max(struct(cos, -eval_id)) winner is algebraic and deterministic
    on cosine ties. Dot products fold sequentially (the
    `ext_dedup_embcos` bit-equality device), so max_cos hash-matches
    unrounded."""
    e = _with_double_vec(load(spark, sf_dir, "embeddings"), "dv")
    ev = e.filter(F.col("vec_id") < SEM_EVAL_VECS).select(
        F.col("vec_id").alias("eval_id"), F.col("dv").alias("ev")
    )
    co = e.filter(F.col("vec_id") >= SEM_EVAL_VECS).select("vec_id", "dv")
    dot = F.expr(_DOT.format(a="ev", b="dv"))
    na = F.sqrt(F.expr(_DOT.format(a="ev", b="ev")))
    nb = F.sqrt(F.expr(_DOT.format(a="dv", b="dv")))
    cos = (dot / (na * nb)).alias("cos")
    scored = co.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        F.struct(cos, (-F.col("eval_id")).alias("nid")).alias("s"),
    )
    m = scored.groupBy("vec_id").agg(F.max("s").alias("m"))
    return m.select(
        "vec_id",
        (-F.col("m.nid")).alias("best_eval_id"),
        F.col("m.cos").alias("max_cos"),
        (F.col("m.cos") >= SEM_CONTAM_THRESHOLD).alias("contaminated"),
    )


# --------------------------- int8-space embedding outlier detection

_OUTLIER_ORACLE = """
WITH s AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, label, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM s),
z AS (SELECT vec_id, label,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)))) END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE)),
e AS (SELECT vec_id, label, unnest(list_transform(range(1, len(codes) + 1),
        i -> {'i': i, 'q': codes[i]})) AS u FROM z),
ed AS (SELECT vec_id, label, u.i AS i, u.q AS q FROM e),
cen AS (SELECT label, i, sum(q) AS s_i, count(*) AS n FROM ed GROUP BY label, i),
d AS (SELECT ed.vec_id, ed.label,
        sum((cen.n * ed.q - cen.s_i) * (cen.n * ed.q - cen.s_i)) AS d2n2
      FROM ed JOIN cen ON ed.label = cen.label AND ed.i = cen.i
      GROUP BY ed.vec_id, ed.label),
g AS (SELECT label, sum(d2n2) AS tot, count(*) AS cnt FROM d GROUP BY label)
SELECT d.vec_id, d.label, CAST(d.d2n2 AS BIGINT) AS d2n2,
       (d.d2n2 * g.cnt > 4 * g.tot) AS outlier
FROM d JOIN g ON d.label = g.label
"""


@register("ext_emb_outlier_int8", oracle=_OUTLIER_ORACLE)
def ext_emb_outlier_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection in int8 code space: each
    vector's squared distance to its LABEL CENTROID, computed in the
    scaled-integer domain (d2n2 = Σ(n·q_i − S_i)², exactly
    n²·‖q − centroid‖² as BIGINTs — the `ext_emb_centroids_int8`
    philosophy extended to the full distance), flagged when the
    vector sits beyond 4x its label's mean squared distance, an
    INTEGER comparison (d2n2·cnt > 4·Σd2n2). The
    mislabeled/poisoned/corrupted-vector tripwire every embedding
    pipeline wants before centroids or ANN indexes consume the data.

    Overflow bound (the n³ term is the binding one): d2n2 ≤
    dims·(254·n)² ≈ 4.1e6·n², and the flag compares d2n2·cnt against
    4·Σd2n2 ≤ 1.6e7·n³ — int64 therefore holds the EXACT contract to
    roughly n ≈ 8,000 vectors per label at worst-case code spread
    (comfortably 50x the fixture; typical spreads buy ~10x more).
    Past that, per-label sharding keeps it exact, or the comparison
    moves to double means with a documented tolerance — the exact
    integer form is deliberately kept as the driver-checkable
    contract at test scale, and Spark's non-ANSI wrap vs DuckDB's
    HUGEINT sum is exactly why the bound is stated rather than
    assumed.

    Scale shape: codes explode to (vec, dim, q) int rows; centroid
    sums are a (label, dim)-keyed agg (labels × 64 rows — broadcast
    back); per-vector distances reduce with map-side combine; the
    flag joins a |labels|-row broadcast. No pair space, no window —
    two agg passes over integer rows."""
    z = _with_int8_codes(load(spark, sf_dir, "embeddings"), extra_cols=("label",))
    # the exploded code rows feed centroids AND distances, and the
    # distance table feeds the flag join — pin both or each branch
    # replays the scan-quantize-explode chain (r6 scan audit: 4
    # embeddings scans before, 1 after)
    ed = compute_once(
        z.select(
            "vec_id", "label", F.posexplode("codes").alias("i0", "q")
        ).select("vec_id", "label", (F.col("i0") + 1).alias("i"), "q")
    )
    cen = ed.groupBy("label", "i").agg(
        F.sum("q").alias("s_i"), F.count("*").alias("n")
    )
    diff = F.col("n") * F.col("q") - F.col("s_i")
    d = compute_once(
        ed.join(F.broadcast(cen), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sum(diff * diff).alias("d2n2"))
    )
    g = d.groupBy("label").agg(
        F.sum("d2n2").alias("tot"), F.count("*").alias("cnt")
    )
    return d.join(F.broadcast(g), "label").select(
        "vec_id",
        "label",
        F.col("d2n2").cast("long").alias("d2n2"),
        (F.col("d2n2") * F.col("cnt") > 4 * F.col("tot")).alias("outlier"),
    )



# ---------------------------------------------- hard-negative mining

_HARDNEG_ORACLE = (
    f"WITH c AS (SELECT a.vec_id AS query_id, a.label AS query_label, "
    f"b.vec_id AS neighbor_id, b.label AS neg_label, {_COS_SQL} AS cos "
    f"FROM embeddings a JOIN embeddings b ON b.label != a.label "
    f"WHERE a.vec_id < {N_QUERY_VECS}) "
    "SELECT query_id, query_label, neighbor_id, neg_label, cos, rank FROM ("
    "  SELECT *, row_number() OVER ("
    "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM c) "
    f"WHERE rank <= {TOP_K}"
)


@register("ext_hard_negative_mine", oracle=_HARDNEG_ORACLE)
def ext_hard_negative_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor vector, the top-k most-similar vectors bearing a
    DIFFERENT label — the highest-loss negatives an InfoNCE / triplet
    trainer wants in-batch. Same broadcast-scored map-only shape as
    `ext_sim_topk` (similarity.py:79) with the cross-label predicate
    applied before ranking, and the same deterministic tie-break
    (cos DESC, neighbor_id) so ties can never flip the contract.

    Scale shape: anchors broadcast, corpus streams map-only — O(Q*N)
    with zero corpus shuffle; per-anchor heap via window top-k. At
    billion-vector scale swap the scorer for the int8 kernel
    (`ext_sim_topk_int8`) or the IVF probe path unchanged — the
    label predicate composes with either because it's a row filter,
    not a ranking change."""
    e = load(spark, sf_dir, "embeddings")
    q = _with_double_vec(e.filter(F.col("vec_id") < N_QUERY_VECS), "qv").select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        "qv",
    )
    c = _with_double_vec(e, "cv").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        "cv",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neg_label",
            _cosine("qv", "cv").alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "query_label", "neighbor_id", "neg_label", "cos", "rank")
    )


# --------------------------------------------- kNN label-noise audit

_KNN_NOISE_ORACLE = (
    f"WITH c AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, "
    f"{_COS_SQL} AS cos FROM embeddings a JOIN embeddings b "
    "ON b.vec_id != a.vec_id "
    # finite-vector pin (r9 nonfinite gate; upgrades the r7 NULL pin)
    f"WHERE {_fin_emb_duck('a.embedding')} "
    f"AND {_fin_emb_duck('b.embedding')}), "
    "r AS (SELECT vec_id, neighbor_id, cos, row_number() OVER ("
    "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM c), "
    f"k AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= {KNN_K}), "
    "j AS (SELECT k.vec_id, a.label AS label, "
    "CASE WHEN b.label != a.label THEN 1 ELSE 0 END AS d "
    "FROM k JOIN embeddings a ON a.vec_id = k.vec_id "
    "JOIN embeddings b ON b.vec_id = k.neighbor_id) "
    "SELECT vec_id, label, CAST(sum(d) AS BIGINT) AS n_disagree, "
    f"round(CAST(sum(d) AS BIGINT) * 1.0 / {KNN_K}, 6) AS disagree_rate, "
    f"CAST(sum(d) AS BIGINT) = {KNN_K} AS flagged "
    "FROM j GROUP BY vec_id, label"
)


@register("ext_label_knn_noise", oracle=_KNN_NOISE_ORACLE)
def ext_label_knn_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise audit (the confident-learning-style screen):
    for every vector, how many of its KNN_K nearest neighbors carry a
    DIFFERENT label. A vector whose entire neighborhood disagrees
    (`flagged`) is a candidate mislabel/poisoned row — the audit a
    training pipeline runs over labeled embeddings BEFORE
    `ext_emb_centroids_int8` or any classifier consumes them, and
    the label-quality complement of `ext_emb_outlier_int8`'s
    geometric screen (that one finds vectors far from their OWN
    label; this one finds vectors deep inside ANOTHER's).

    Scale shape: the expensive part IS `ext_sim_knn_graph` (block
    triangle join, per-block partial top-k — reused verbatim so the
    neighbor contract incl. tie-break cannot drift); on top of it:
    two broadcast-able label joins keyed on vec ids and one keyed
    count agg. Disagreement is integer; the rate is one shared
    rounded division."""
    knn = ext_sim_knn_graph(spark, sf_dir).select("vec_id", "neighbor_id")
    # the slim label frame feeds both sides of the label join — pin
    # it (r6 scan audit)
    lab = compute_once(
        load(spark, sf_dir, "embeddings").select("vec_id", "label")
    )
    own = lab.select(F.col("vec_id"), F.col("label"))
    nb = lab.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    d = (
        F.when(F.col("nl") != F.col("label"), 1).otherwise(0)
    )
    j = knn.join(own, "vec_id").join(nb, "neighbor_id").select(
        "vec_id", "label", d.alias("d")
    )
    return j.groupBy("vec_id", "label").agg(
        F.sum("d").alias("n_disagree"),
        F.round(F.sum("d") * 1.0 / KNN_K, 6).alias("disagree_rate"),
        (F.sum("d") == KNN_K).alias("flagged"),
    )


# ------------------------------- embedding anisotropy (power iter)

ANISO_ITERS = 8
ANISO_SCALE = 1000  # milli fixed-point iterate entries
ANISO_GCAP = 1 << 28  # gram renormalization cap keeps all products in int64


def _aniso_oracle() -> str:
    steps = []
    prev = "x0"
    for k in range(1, ANISO_ITERS + 1):
        steps.append(
            f"y{k} AS MATERIALIZED (SELECT g.i AS dim, CAST(sum(g.g * {prev}.x) AS BIGINT) AS y\n"
            f"         FROM g JOIN {prev} ON {prev}.dim = g.j GROUP BY 1),\n"
            f"m{k} AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(y))) AS m FROM y{k}),\n"
            f"x{k} AS MATERIALIZED (SELECT dim, CASE WHEN y < 0 THEN -1 ELSE 1 END\n"
            f"                * ((abs(y) * {ANISO_SCALE}) // m{k}.m) AS x\n"
            f"         FROM y{k}, m{k})"
        )
        prev = f"x{k}"
    last = prev
    return f"""
WITH g0 AS MATERIALIZED ({_GRAM_ORACLE}),
full_g AS MATERIALIZED (SELECT i, j, gram FROM g0
           UNION ALL SELECT j AS i, i AS j, gram FROM g0 WHERE i <> j),
gm AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(gram)) // {ANISO_GCAP}) AS dd
       FROM full_g),
g AS MATERIALIZED (SELECT i, j, CASE WHEN gram < 0 THEN -1 ELSE 1 END
             * (abs(gram) // gm.dd) AS g FROM full_g, gm),
x0 AS (SELECT DISTINCT i AS dim, CAST({ANISO_SCALE} AS BIGINT) AS x FROM g),
{",".join(steps)},
xga AS (SELECT CAST(sum(g.g * xi.x * xj.x) AS BIGINT) AS xgx
        FROM g JOIN {last} xi ON xi.dim = g.i JOIN {last} xj ON xj.dim = g.j),
xxa AS (SELECT CAST(sum(x * x) AS BIGINT) AS xx,
               CAST(count(*) AS BIGINT) AS d FROM {last}),
tra AS (SELECT CAST(sum(g) AS BIGINT) AS trace FROM g WHERE i = j),
top AS (SELECT CAST(dim AS BIGINT) AS top_dim FROM {last}
        ORDER BY abs(x) DESC, dim LIMIT 1)
SELECT d, trace,
       round(CAST(xgx AS DOUBLE) / xx, 6) AS lambda1,
       round(CAST(xgx AS DOUBLE) / (CAST(xx AS DOUBLE) * trace), 6)
         AS aniso_share,
       top_dim
FROM xga, xxa, tra, top
"""


@register("ext_emb_anisotropy", oracle=_aniso_oracle())
def ext_emb_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit: the share of total variance
    captured by the dominant eigendirection of the (int8-quantized,
    uncentered) second-moment matrix — estimated with K fixed power
    iterations over `ext_emb_gram_int8`'s exact integer Gram.
    Contextual embedding spaces are notoriously anisotropic
    (Ethayarajh 2019; Mu & Viswanath 2018's all-but-the-top): when
    one direction hoards the spectrum, cosine similarities collapse
    toward a constant and every downstream consumer here
    (`ext_sim_topk`, `ext_dedup_embcos`, `ext_dedup_semantic`)
    degrades. aniso_share near 1/d = isotropic and healthy; near 1 =
    collapsed space that needs centering/whitening before ANN.

    INTEGER-EXACT iteration, the repo's signature device taken one
    step further: the iterate x lives in milli fixed point, each
    step is y = G'x (exact int64 sums), then rescale
    x' = sign(y)*(|y|*SCALE div max|y|) in integer division — so the
    iterate is bit-identical on both engines in ANY partition order,
    and the statistic is the DETERMINISTIC contract "Rayleigh
    quotient after K integer power steps", not "wherever float drift
    lands". G is pre-divided by max(1, max|G| div 2^28), bounding
    every downstream product (d^2 * SCALE^2 * 2^29 < 2^63) for ANY
    corpus size; the final lambda1 = x'Gx/x'x and share combine
    exact integers in double and round once to 6dp. Rayleigh error
    is quadratic in the iterate's angle error, so milli quantization
    costs ~1e-6 relative — absorbed by the rounding contract.

    Scale shape: ALL data-sized work is the Gram partial-merge
    (vectors never shuffle, P x d(d+1)/2 partial rows); the K power
    steps then run as DRIVER-SIDE integer model math over the
    collected d(d+1)/2-row statistic (r13 optimization pass) — the
    same dimension-bounded-driver contract as the IVF quantizer
    trainer and the "driver-side d x d eigendecomposition" this
    module's Gram docstring already names as the standard consumer:
    the collected frame is O(d²) — corpus-size-FREE — while the
    previous in-engine loop paid ~30 scheduler/AQE round trips
    (measured 4.8 s at sf0.1) to move 64-row frames. Every step
    reproduces the engine-shared arithmetic exactly (int64 sums,
    floor divisions on non-negative operands, (|x| desc, dim) argmax
    tie-break), and the final Rayleigh division + 6dp rounding stays
    IN the engine over the exact integer literals, so the oracle
    hash is unchanged bit for bit."""
    gram_rows = ext_emb_gram_int8(spark, sf_dir).collect()  # ≤ d(d+1)/2
    out_schema = (
        "d long, trace long, lambda1 double, aniso_share double, "
        "top_dim long"
    )
    if not gram_rows:
        # empty corpus: the previous plan's final crossJoin against an
        # empty LIMIT-1 top frame emitted ZERO rows — reproduce that
        return literal_frame(spark, [], out_schema)
    # symmetrize: off-diagonal rows count once per direction (the
    # previous unionAll), diagonal once
    sym = [(r.i, r.j, r.gram) for r in gram_rows]
    sym += [(j, i, v) for (i, j, v) in sym if i != j]
    dd = max(1, max(abs(v) for (_, _, v) in sym) // ANISO_GCAP)
    g = [(i, j, (-1 if v < 0 else 1) * (abs(v) // dd)) for (i, j, v) in sym]
    dims = sorted({i for (i, _, _) in g})
    x = {i: ANISO_SCALE for i in dims}
    for _ in range(ANISO_ITERS):
        y = {i: 0 for i in dims}
        for (i, j, v) in g:
            y[i] += v * x[j]
        m = max(1, max(abs(v) for v in y.values()))
        x = {
            i: (-1 if y[i] < 0 else 1) * ((abs(y[i]) * ANISO_SCALE) // m)
            for i in dims
        }
    xgx = sum(v * x[i] * x[j] for (i, j, v) in g)
    xx = sum(v * v for v in x.values())
    trace = sum(v for (i, j, v) in g if i == j)
    top_dim = min(dims, key=lambda i: (-abs(x[i]), i))
    ints = literal_frame(
        spark,
        [(len(dims), trace, xgx, xx, top_dim)],
        "d long, trace long, xgx long, xx long, top_dim long",
    )
    # the float division + HALF_UP rounding stay engine-side, on the
    # identical exact-integer operands the in-engine plan produced
    return ints.select(
        "d",
        "trace",
        F.round(F.col("xgx").cast("double") / F.col("xx"), 6).alias("lambda1"),
        F.round(
            F.col("xgx").cast("double")
            / (F.col("xx").cast("double") * F.col("trace")),
            6,
        ).alias("aniso_share"),
        "top_dim",
    )


# --------------------------------- Matryoshka truncation recall

MRL_DIM = 16  # leading dims the truncated ranking sees


def _mrl_cos_sql(dim_slice: str) -> str:
    # NULLIF zero-norm guard (r6 review fix): a vector whose sliced
    # prefix is all zeros would yield 0/0 — Spark NaN (sorts FIRST
    # under DESC) vs DuckDB NULL (sorts LAST). NULL on both sides
    # keeps the rankings aligned (both engines default NULLS LAST
    # for DESC) with the neighbor_id tie-break.
    a = f"CAST(a.embedding{dim_slice} AS DOUBLE[])"
    b = f"CAST(b.embedding{dim_slice} AS DOUBLE[])"
    return (
        f"list_dot_product({a}, {b}) / "
        f"NULLIF(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})), 0.0)"
    )


def _mrl_rank_cte(name: str, cos_sql: str) -> str:
    return (
        f"{name}0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        f"{cos_sql} AS cos FROM embeddings a JOIN embeddings b "
        f"ON b.vec_id != a.vec_id WHERE a.vec_id < {N_QUERY_VECS}), "
        f"{name} AS (SELECT query_id, neighbor_id FROM ("
        f"SELECT query_id, neighbor_id, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank "
        f"FROM {name}0) WHERE rank <= {TOP_K})"
    )


_MRL_ORACLE = f"""
WITH {_mrl_rank_cte("fullk", _mrl_cos_sql(""))},
{_mrl_rank_cte("trunck", _mrl_cos_sql(f"[1:{MRL_DIM}]"))}
SELECT f.query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_common,
       round(count(t.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
FROM fullk f
LEFT JOIN trunck t ON t.query_id = f.query_id
                  AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


@register("ext_emb_matryoshka_recall", oracle=_MRL_ORACLE)
def ext_emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022): per query,
    how many of the full-dimension cosine top-k survive when the
    ranking only sees the LEADING {MRL_DIM} of d dims — the recall
    measurement that decides whether a corpus's embeddings tolerate
    MRL-style dimension cutting (serve short vectors, rerank with
    full ones). High recall at d/4 means the ANN index, the shuffle,
    and the cache can all shrink 4x; low recall means the model
    never concentrated information in its prefix and truncation is
    unsafe. Companion to `ext_emb_quantize` (precision cutting) and
    `ext_emb_anisotropy` (direction concentration) — three axes of
    the same serving-cost question.

    Exactness: both rankings use the engine-shared cosine kernels
    with the repo's deterministic (cos DESC, neighbor_id) tie-break
    (`_rank_topk` contract); the OUTPUT is integer overlap counts
    and one shared rounded division — the float cosines never reach
    the hash.

    Scale shape: two brute-force rank stages over the broadcast
    query set (the `ext_sim_topk` plan, run once per ranking) and a
    (query, neighbor)-keyed top-k self-join over 2·Q·K rows. At
    scale the full-dim stage is whatever ANN serves production
    (`ext_sim_lsh`/`ext_sim_ivf`); the audit shape is unchanged."""
    e = load(spark, sf_dir, "embeddings")
    # query and corpus frames each feed the full-dim AND truncated
    # rankings — pin both or each ranking re-scans embeddings (r6
    # scan audit: 4 scans before, 1 after)
    q = compute_once(
        _with_double_vec(e.filter(F.col("vec_id") < N_QUERY_VECS), "qv").select(
            F.col("vec_id").alias("query_id"), "qv"
        )
    )
    c = compute_once(
        _with_double_vec(e, "cv").select(F.col("vec_id").alias("neighbor_id"), "cv")
    )
    scored_full = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine("qv", "cv").alias("cos"))
    )
    fullk = _rank_topk(scored_full).select("query_id", "neighbor_id")
    qt = q.select("query_id", F.expr(f"slice(qv, 1, {MRL_DIM})").alias("qv"))
    ct = c.select("neighbor_id", F.expr(f"slice(cv, 1, {MRL_DIM})").alias("cv"))
    norm_prod = F.sqrt(F.expr(_DOT.format(a="qv", b="qv"))) * F.sqrt(
        F.expr(_DOT.format(a="cv", b="cv"))
    )
    scored_trunc = (
        ct.crossJoin(F.broadcast(qt))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # zero-norm prefixes score NULL on both engines (see
            # _mrl_cos_sql) instead of NaN-vs-NULL divergence
            F.when(norm_prod == 0, F.lit(None).cast("double"))
            .otherwise(_cosine("qv", "cv"))
            .alias("cos"),
        )
    )
    trunck = _rank_topk(scored_trunc).select(
        F.col("query_id").alias("t_query"),
        F.col("neighbor_id").alias("t_neighbor"),
        F.lit(True).alias("in_trunc"),
    )
    return (
        fullk.join(
            trunck,
            (F.col("query_id") == F.col("t_query"))
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("in_trunc").alias("n_common"),
            F.round(F.count("in_trunc") * 1.0 / TOP_K, 6).alias("recall_at_k"),
        )
    )


# ------------------------------- Johnson-Lindenstrauss projection audit

JL_K = 8  # projected dimensions
JL_D = 64  # dims the audit covers (= testdata dim). r6 review fix: the
#            sign matrix, BOTH engines' projections, and BOTH engines'
#            squared distances all read exactly JL_D leading dims, so
#            raising the testdata dim past JL_D changes nothing until
#            this one constant is raised with it — no half-updated
#            disagreement is possible.
JL_PAIR_STRIDE = 17  # audit pairs (v, v+1) for v % STRIDE == 0


def _jl_signs() -> list:
    """K x MAX_D +/-1 sign matrix, derived ONCE at import from the
    repo's salted-md5 family (hashlib here, but the same bytes the
    engines would compute) and embedded as LITERALS in both the Spark
    plan and the oracle SQL — zero runtime hashing, and the two
    engines cannot disagree because neither computes it."""
    import hashlib

    return [
        [
            1 - 2 * (int(hashlib.md5(f"jl:{r}:{i}".encode()).hexdigest()[:15], 16) % 2)
            for i in range(1, JL_D + 1)
        ]
        for r in range(JL_K)
    ]


_JL_SIGNS = _jl_signs()


def _jl_proj_sql(vec: str, r: int, elem: str) -> str:
    signs = _JL_SIGNS[r]
    terms = " + ".join(
        f"({s if s > 0 else f'({s})'} * {elem}({vec}, {i}))"
        for i, s in enumerate(signs[:JL_D], start=1)
    )
    return f"({terms})"


_JL_ORACLE = f"""
WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM s),
z AS (SELECT vec_id,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)))) END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE)),
pairs AS (SELECT a.codes AS ca, b.codes AS cb
          FROM z a JOIN z b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % {JL_PAIR_STRIDE} = 0),
dist AS (SELECT
  CAST(list_sum(list_transform(range(1, {JL_D} + 1),
       i -> (ca[CAST(i AS INT)] - cb[CAST(i AS INT)])
          * (ca[CAST(i AS INT)] - cb[CAST(i AS INT)]))) AS BIGINT) AS d2_full,
  CAST({" + ".join(
      f"(({_jl_proj_sql('ca', r, 'list_extract')}) - ({_jl_proj_sql('cb', r, 'list_extract')})) * "
      f"(({_jl_proj_sql('ca', r, 'list_extract')}) - ({_jl_proj_sql('cb', r, 'list_extract')}))"
      for r in range(JL_K))} AS BIGINT) AS d2_proj
  FROM pairs),
r AS (SELECT d2_full, d2_proj,
             round(CAST(d2_proj AS DOUBLE) / ({JL_K} * d2_full), 6) AS ratio
      FROM dist WHERE d2_full > 0)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST({JL_K} AS BIGINT) AS k,
       min(ratio) AS min_ratio,
       max(ratio) AS max_ratio,
       CAST(sum(CAST(round(ratio * 1000000) AS BIGINT)) // count(*) AS BIGINT)
         AS mean_ratio_micro
FROM r
"""


@register("ext_emb_jl_audit", oracle=_JL_ORACLE)
def ext_emb_jl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distance-preservation audit: project the
    int8 code vectors onto {JL_K} random +/-1 directions (Achlioptas
    2003 — database-friendly random projections) and measure, over a
    deterministic sample of vector pairs, the ratio of projected to
    original squared distance (expectation 1 under JL). The RANDOM
    counterpart to `ext_emb_matryoshka_recall`'s learned prefix: if
    the measured ratio band at k={JL_K} is tight, a k-dim sketch can
    pre-filter distance computations (dedup blocking, ANN routing)
    with known distortion; if it's wide, the corpus needs more
    projection dims than JL's log(n) suggests. Audited in CODE space
    by design — the projection is linear, so the certificate
    transfers to the dequantized floats verbatim.

    Exactness: the sign matrix is derived ONCE at import from the
    salted-md5 family and embedded as +/-1 LITERALS in both plans
    (neither engine hashes anything at runtime); projections,
    differences, and squared distances are all exact int64
    (|proj| <= 127·64·1, d2_proj <= 8·(2·8128)^2 ~ 2.1e9); the ratio
    is one shared rounded division, its mean an integer micro
    average. Identical-vector pairs (d2_full = 0) are excluded on
    both sides.

    Scale shape: projections are scan-local HOF arithmetic; the pair
    sample is a stride-keyed self-join on consecutive ids (n/STRIDE
    pairs, never all pairs); output is ONE row."""
    z = _with_int8_codes(load(spark, sf_dir, "embeddings"))
    a = z.select(F.col("vec_id").alias("va"), F.col("codes").alias("ca")).filter(
        F.col("va") % JL_PAIR_STRIDE == 0
    )
    b = z.select(F.col("vec_id").alias("vb"), F.col("codes").alias("cb"))
    pairs = a.join(b, F.col("vb") == F.col("va") + 1)
    d2_full = F.expr(
        f"aggregate(zip_with(slice(ca, 1, {JL_D}), slice(cb, 1, {JL_D}), "
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )
    d2_proj = None
    for r in range(JL_K):
        pa = F.expr(_jl_proj_sql("ca", r, "element_at"))
        pb = F.expr(_jl_proj_sql("cb", r, "element_at"))
        term = (pa - pb) * (pa - pb)
        d2_proj = term if d2_proj is None else d2_proj + term
    dist = pairs.select(
        d2_full.alias("d2_full"), d2_proj.cast("long").alias("d2_proj")
    ).filter(F.col("d2_full") > 0)
    ratio = F.round(
        F.col("d2_proj").cast("double") / (JL_K * F.col("d2_full")), 6
    )
    return dist.select("d2_full", "d2_proj", ratio.alias("ratio")).agg(
        F.count("*").alias("n_pairs"),
        F.lit(JL_K).cast("long").alias("k"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
        F.expr(
            "CAST(sum(CAST(round(ratio * 1000000) AS BIGINT)) div count(*) AS BIGINT)"
        ).alias("mean_ratio_micro"),
    )


# ------------------------------- contrastive triplet margin audit

TRIPLET_STRIDE = 20  # audit anchors: vec_id % STRIDE == 0


_TRIPLET_ORACLE = f"""
WITH a AS (SELECT vec_id, embedding, label FROM embeddings
           WHERE vec_id % {TRIPLET_STRIDE} = 0),
sc AS (SELECT a.vec_id AS anchor_id, a.label AS label,
              b.label AS b_label, {_COS_SQL} AS cos
       FROM a JOIN embeddings b ON b.vec_id != a.vec_id),
g AS (SELECT anchor_id, label,
             max(CASE WHEN b_label = label THEN cos END) AS pos_cos,
             max(CASE WHEN b_label != label THEN cos END) AS neg_cos
      FROM sc GROUP BY 1, 2)
SELECT anchor_id, CAST(label AS BIGINT) AS label,
       round(pos_cos - neg_cos, 6) AS margin,
       pos_cos < neg_cos AS violation
FROM g WHERE pos_cos IS NOT NULL AND neg_cos IS NOT NULL
"""


@register("ext_triplet_margin_audit", oracle=_TRIPLET_ORACLE)
def ext_triplet_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet-margin audit over a deterministic anchor
    sample: per anchor, the hardest positive (max same-label cosine)
    minus the hardest negative (max other-label cosine). Negative
    margins are label violations — an impostor sits closer than
    every same-class example — the CONTINUOUS version of
    `ext_label_knn_noise`'s vote count, and the statistic that sizes
    the margin hyperparameter before training a contrastive model on
    this corpus (`ext_hard_negative_mine` picks the training pairs;
    this measures whether the space can separate them at all).
    Anchors without both a positive and a negative peer are out of
    frame on both engines.

    Exactness: cosines use the engine-shared kernels (the
    `ext_sim_topk` contract, hash-proven); the margin is one shared
    rounded difference and the violation flag compares the SAME two
    doubles on both engines.

    Scale shape: stride-sampled anchors (n/{TRIPLET_STRIDE}, never
    all) against the corpus through the block-probe layout
    (`_block_probe`): the corpus blocks on vec_id mod EMBCOS_BLOCKS,
    anchors replicate to every block, and each task emits
    per-(anchor, kind) BLOCK-PARTIAL maxima that one final max-agg
    combines — max-of-maxes is order-free, and the partial replays
    Spark's max semantics exactly (NULL cosines — zero norm product /
    NULL vector — are excluded before the max; a NaN cosine poisons
    its partial to NaN, Spark's NaN-greatest ordering). Every cosine
    is `_fold_cos`, the same IEEE doubles the JVM fold compares, so
    pos/neg maxima are bit-identical. At scale the scoring stage is
    whatever ANN serves production; the audit shape (conditional max
    per anchor) is unchanged."""
    import numpy as np

    # a NULL vector scores NULL against everything: excluded from every
    # max on the JVM, so it never enters the probe
    e = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    side = (
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("dv"),
    )

    def score(c_ids, mat_c, a_ids, mat_a, same_block, c_lab, a_lab):
        # a label column holding NULLs arrives as float; compare int64 codes
        c_lab, a_lab = c_lab.astype(np.int64), a_lab.astype(np.int64)
        cos, denom = _fold_cos(mat_c, mat_a)
        # nullif(denom, 0) → NULL on the JVM: excluded from max
        valid = (denom != 0.0) & (c_ids[:, None] != a_ids[None, :])
        rows = {"anchor_id": [], "label": [], "kind": [], "val": []}
        same = c_lab[:, None] == a_lab[None, :]
        for kind, m in (("p", same), ("n", ~same)):
            pick = valid & m
            for j in range(len(a_ids)):
                v = cos[pick[:, j], j]
                if v.size == 0:
                    continue  # no partial from this block
                rows["anchor_id"].append(a_ids[j])
                rows["label"].append(a_lab[j])
                rows["kind"].append(kind)
                # NaN-greatest ≙ Spark max: any NaN poisons the partial
                rows["val"].append(
                    float("nan") if np.isnan(v).any() else float(v.max())
                )
        return rows if rows["anchor_id"] else None

    partials = _block_probe(
        e.select(*side),
        e.filter(F.col("vec_id") % TRIPLET_STRIDE == 0).select(*side),
        score,
        "anchor_id bigint, label bigint, kind string, val double",
        extra=("label",),
    )
    g = partials.groupBy(
        F.col("anchor_id"), F.col("label")
    ).agg(
        F.max(F.when(F.col("kind") == "p", F.col("val"))).alias("pos_cos"),
        F.max(F.when(F.col("kind") == "n", F.col("val"))).alias("neg_cos"),
    )
    return (
        g.filter(F.col("pos_cos").isNotNull() & F.col("neg_cos").isNotNull())
        .select(
            "anchor_id",
            F.col("label").cast("long").alias("label"),
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
            (F.col("pos_cos") < F.col("neg_cos")).alias("violation"),
        )
    )


# -------------------------- product-quantization codebook audit

PQ_M = 4  # subspaces
PQ_K = 8  # centroids per subspace

_PQ_CODES_SPARK = (
    "CASE WHEN amax = 0.0 THEN transform(dv, x -> CAST(0 AS BIGINT)) "
    "ELSE transform(dv, x -> CAST(greatest(-127, least(127, "
    "cast(floor(x / (amax / 127.0) + 0.5d) as int))) AS BIGINT)) END"
)

_PQ_ORACLE = f"""
WITH {INT8_Z_CTES},
zz AS (SELECT vec_id, codes FROM z WHERE codes IS NOT NULL),
dim AS (SELECT min(len(codes)) // {PQ_M} AS ds FROM zz),
sd AS (SELECT vec_id, codes,
              row_number() OVER (ORDER BY vec_id) - 1 AS cid
       FROM (SELECT vec_id, codes FROM zz ORDER BY vec_id
             LIMIT {PQ_K}) seeds),
sp AS (SELECT unnest(generate_series(0, {PQ_M} - 1)) AS subspace),
cb AS (SELECT sp.subspace, sd.cid,
              codes[sp.subspace * ds + 1 : sp.subspace * ds + ds]
                AS ccodes
       FROM sd, dim, sp),
a AS (SELECT zz.vec_id, sp.subspace,
             codes[sp.subspace * ds + 1 : sp.subspace * ds + ds] AS sub
      FROM zz, dim, sp),
d AS (SELECT a.vec_id, a.subspace,
             min(coalesce(list_sum(list_transform(
                 generate_series(1, len(a.sub)),
                 i -> (a.sub[i] - cb.ccodes[i])
                      * (a.sub[i] - cb.ccodes[i]))), 0)
                 * {PQ_K} + cb.cid) AS enc
      FROM a JOIN cb ON cb.subspace = a.subspace
      GROUP BY 1, 2)
SELECT subspace,
       CAST(enc % {PQ_K} AS BIGINT) AS centroid,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(sum(enc // {PQ_K}) AS BIGINT) AS sse_sum
FROM d GROUP BY 1, 2
"""


@register("ext_emb_pq_codebook", oracle=_PQ_ORACLE)
def ext_emb_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment audit — the compression layout
    billion-vector ANN indexes actually ship (int8 absmax is 4x;
    PQ with {PQ_M} subspaces x {PQ_K} centroids is ~Dx): vectors are
    int8-quantized (the shared `ext_emb_quantize` device), each split
    into {PQ_M} sub-vectors, and every sub-vector is assigned to its
    nearest of {PQ_K} seed centroids by EXACT integer SSE. Reported
    per (subspace, centroid): assignment count and total distortion —
    the balance/distortion table that decides whether the codebook
    needs another Lloyd round or more centroids. Seeds are the
    {PQ_K} lowest-vec_id vectors (the deterministic seeding round;
    at scale you'd seed from a sample and iterate — this op is the
    per-round AUDIT, exactly like `ext_emb_centroids_int8`'s
    assignment step).

    Exactness: codes are BIGINTs in [-127, 127] from the shared
    absmax device; SSE is an exact integer (≤ 254² · D/{PQ_M} per
    pair); argmin ties break to the LOWEST centroid id via the
    enc = sse·{PQ_K} + cid encoding (min over exact BIGINTs — no
    min_by tie ambiguity across engines). Trailing dims beyond
    ds·{PQ_M} are dropped (stated; a production layout pads).
    Duplicate vec_ids (the --dups boundary) change the SEED question
    like every vec_id-keyed oracle — documented class, not hidden.

    Scale shape: quantize + slice are scan-local; the {PQ_K}-row
    codebook and the 1-row dim scalar BROADCAST to a {PQ_M}x
    exploded assignment join (bounded fan-out {PQ_M}·{PQ_K} per
    vector); per-(vec, subspace) argmin and the final
    ({PQ_M}·{PQ_K})-key census both ride map-side partial aggs. No
    all-pairs anywhere; the only full sort is over {PQ_K} seed
    rows."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("dv")
    )
    zz = (
        e.withColumn("amax", F.expr("array_max(transform(dv, x -> abs(x)))"))
        .where(FINITE_AMAX_SQL)
        .withColumn("codes", F.expr(_PQ_CODES_SPARK))
        .select("vec_id", "codes")
    )
    # slim (vec_id, codes) frame feeds dim scalar + seeds + the
    # assignment explode — pin it or each branch re-scans and
    # re-quantizes the corpus (r6 scan-audit class)
    zz = compute_once(zz)
    dim = zz.agg(
        F.expr(f"CAST(min(size(codes)) div {PQ_M} AS INT)").alias("ds")
    )
    sd = (
        zz.orderBy("vec_id")
        .limit(PQ_K)
        .select(
            "vec_id",
            "codes",
            )
    )
    from pyspark.sql import Window as W

    sd = sd.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid"),
        "codes",
    )
    sp = spark.range(PQ_M).select(F.col("id").cast("int").alias("subspace"))
    cb = (
        sd.crossJoin(F.broadcast(dim))
        .crossJoin(F.broadcast(sp))
        .select(
            "subspace",
            "cid",
            F.expr("slice(codes, subspace * ds + 1, ds)").alias("ccodes"),
        )
    )
    a = (
        zz.crossJoin(F.broadcast(dim))
        .crossJoin(F.broadcast(sp))
        .select(
            "vec_id",
            "subspace",
            F.expr("slice(codes, subspace * ds + 1, ds)").alias("sub"),
        )
    )
    d = (
        a.join(F.broadcast(cb), "subspace")
        .select(
            "vec_id",
            "subspace",
            F.expr(
                "aggregate(zip_with(sub, ccodes, (x, y) -> (x - y) * (x - y)), "
                f"0L, (acc, v) -> acc + v) * {PQ_K} + cid"
            ).alias("enc"),
        )
        .groupBy("vec_id", "subspace")
        .agg(F.min("enc").alias("enc"))
    )
    return d.groupBy(
        "subspace", F.expr(f"CAST(enc % {PQ_K} AS BIGINT)").alias("centroid")
    ).agg(
        F.count("*").alias("n_assigned"),
        F.sum(F.expr(f"enc div {PQ_K}")).cast("long").alias("sse_sum"),
    )


# ----------------------- PQ symmetric-distance top-k (serving)

PQ_N_QUERY = 3
PQ_TOP_K = 10

_PQ_TOPK_ORACLE = f"""
WITH {INT8_Z_CTES},
zz AS (SELECT vec_id, codes FROM z WHERE codes IS NOT NULL),
dim AS (SELECT min(len(codes)) // {PQ_M} AS ds FROM zz),
sd AS (SELECT vec_id, codes,
              row_number() OVER (ORDER BY vec_id) - 1 AS cid
       FROM (SELECT vec_id, codes FROM zz ORDER BY vec_id
             LIMIT {PQ_K}) seeds),
sp AS (SELECT unnest(generate_series(0, {PQ_M} - 1)) AS subspace),
cb AS (SELECT sp.subspace, sd.cid,
              codes[sp.subspace * ds + 1 : sp.subspace * ds + ds]
                AS ccodes
       FROM sd, dim, sp),
a AS (SELECT zz.vec_id, sp.subspace,
             codes[sp.subspace * ds + 1 : sp.subspace * ds + ds] AS sub
      FROM zz, dim, sp),
asg AS (SELECT a.vec_id, a.subspace,
               min(coalesce(list_sum(list_transform(
                   generate_series(1, len(a.sub)),
                   i -> (a.sub[i] - cb.ccodes[i])
                        * (a.sub[i] - cb.ccodes[i]))), 0)
                   * {PQ_K} + cb.cid) % {PQ_K} AS cid
        FROM a JOIN cb ON cb.subspace = a.subspace
        GROUP BY 1, 2),
lut AS (SELECT q.vec_id AS query_id, cb.subspace, cb.cid,
               coalesce(list_sum(list_transform(
                   generate_series(1, len(cb.ccodes)),
                   i -> (q.sub[i] - cb.ccodes[i])
                        * (q.sub[i] - cb.ccodes[i]))), 0) AS part
        FROM (SELECT vec_id, subspace, sub FROM a
              WHERE vec_id < {PQ_N_QUERY}) q
        JOIN cb ON cb.subspace = q.subspace),
dist AS (SELECT lut.query_id, asg.vec_id AS neighbor_id,
                CAST(sum(lut.part) AS BIGINT) AS sdc
         FROM asg JOIN lut ON lut.subspace = asg.subspace
                          AND lut.cid = asg.cid
         WHERE asg.vec_id != lut.query_id
         GROUP BY 1, 2),
r AS (SELECT query_id, neighbor_id, sdc, row_number() OVER (
        PARTITION BY query_id ORDER BY sdc, neighbor_id) AS rank
      FROM dist)
SELECT query_id, neighbor_id, sdc, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {PQ_TOP_K}
"""


@register("ext_emb_topk_pq", oracle=_PQ_TOPK_ORACLE)
def ext_emb_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned PQ serving rung (r13 optimization pass):
    `ext_retrieval_eval` consumes this SAME Q×k table, so the
    codebook/assignment/SDC pass ran twice per session before. See
    `_pq_topk_build` for the full contract."""
    return session_pin(
        spark,
        sf_dir,
        "sim_pq_topk",
        lambda: _pq_topk_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _pq_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-k serving — the query path the
    `ext_emb_pq_codebook` layout exists for: corpus vectors are
    represented ONLY by their {PQ_M} centroid ids, and distance to a
    query is the classic symmetric-distance computation (SDC): a
    per-query lookup table of (subspace, centroid) partial SSEs
    (|queries|·{PQ_M}·{PQ_K} integers), then every corpus vector's
    distance is {PQ_M} table lookups summed — NO vector arithmetic
    per corpus row at query time, which is the entire point of PQ at
    billion-vector scale. `ext_sim_topk` is the float brute-force
    baseline, `ext_sim_topk_int8` the flat-compressed kernel, this
    is the codebook-compressed kernel; recall of the approximation
    is measured in tests against the int8 exact ranking.

    Exactness: codes, centroid assignments (the `ext_emb_pq_codebook`
    argmin contract, ties to the lowest centroid id) and every SDC
    partial are exact BIGINTs; the top-k order (sdc ASC, neighbor_id)
    is a total order, and self-pairs are excluded.

    Scale shape: assignments are a bounded-fan-out broadcast join
    (inherited); the LUT is |queries|·{PQ_M}·{PQ_K} rows BROADCAST;
    the distance stage joins the N·{PQ_M}-row assignment frame to
    the LUT on (subspace, cid) — hash join against a broadcast,
    zero shuffle of corpus vectors — and the per-(query, neighbor)
    sum + per-query TakeOrdered cap the output at
    |queries|·{PQ_TOP_K}."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("dv")
    )
    zz = (
        e.withColumn("amax", F.expr("array_max(transform(dv, x -> abs(x)))"))
        .where(FINITE_AMAX_SQL)
        .withColumn("codes", F.expr(_PQ_CODES_SPARK))
        .select("vec_id", "codes")
    )
    # slim (vec_id, codes) frame feeds dim scalar + seeds + the
    # assignment explode — pin it or each branch re-scans and
    # re-quantizes the corpus (r6 scan-audit class)
    zz = compute_once(zz)
    dim = zz.agg(
        F.expr(f"CAST(min(size(codes)) div {PQ_M} AS INT)").alias("ds")
    )
    sd = zz.orderBy("vec_id").limit(PQ_K)
    sd = sd.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid"),
        "codes",
    )
    sp = spark.range(PQ_M).select(F.col("id").cast("int").alias("subspace"))
    cb = (
        sd.crossJoin(F.broadcast(dim))
        .crossJoin(F.broadcast(sp))
        .select(
            "subspace",
            "cid",
            F.expr("slice(codes, subspace * ds + 1, ds)").alias("ccodes"),
        )
    )
    a = (
        zz.crossJoin(F.broadcast(dim))
        .crossJoin(F.broadcast(sp))
        .select(
            "vec_id",
            "subspace",
            F.expr("slice(codes, subspace * ds + 1, ds)").alias("sub"),
        )
    )
    sse = (
        "aggregate(zip_with(sub, ccodes, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    asg = (
        a.join(F.broadcast(cb), "subspace")
        .select(
            "vec_id",
            "subspace",
            F.expr(f"{sse} * {PQ_K} + cid").alias("enc"),
        )
        .groupBy("vec_id", "subspace")
        .agg(F.expr(f"min(enc) % {PQ_K}").alias("cid"))
    )
    lut = (
        a.where(f"vec_id < {PQ_N_QUERY}")
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cb), "subspace")
        .select("query_id", "subspace", "cid", F.expr(sse).alias("part"))
    )
    dist = (
        asg.join(F.broadcast(lut), ["subspace", "cid"])
        .where("vec_id != query_id")
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("part").cast("long").alias("sdc"))
    )
    r = dist.select(
        "query_id",
        "neighbor_id",
        "sdc",
        F.row_number()
        .over(
            W.partitionBy("query_id").orderBy(
                F.col("sdc"), F.col("neighbor_id")
            )
        )
        .cast("long")
        .alias("rank"),
    )
    return r.where(f"rank <= {PQ_TOP_K}")


# -------------------- 1-bit sign-sketch Hamming serving (r10)

BITSIGN_PACK = 32  # bits per packed word: keeps every word in
# [0, 2^32) so neither engine's left shift or xor ever touches the
# BIGINT sign bit (DuckDB's `<<` hard-errors on 1 << 63)

def _bitsign_words_spark(p: int) -> str:
    """Sign bits packed into p-bit words, Spark side (p ≤ 32 keeps
    every word clear of the BIGINT sign bit on both engines)."""
    return (
        "transform(sequence(0, CAST((size(dv) + {p} - 1) div {p} - 1 AS INT)), "
        "w -> aggregate(sequence(0, {p} - 1), 0L, (acc, j) -> acc + "
        "CASE WHEN w * {p} + j < size(dv) "
        "AND element_at(dv, w * {p} + j + 1) > 0d "
        "THEN shiftleft(1L, j) ELSE 0L END))"
    ).format(p=p)


def _bitsign_words_duck(p: int) -> str:
    """The identical packing in DuckDB SQL (integer end to end)."""
    return (
        "list_transform(generate_series(0, CAST(ceil(len(dv) * 1.0 / {p}) "
        "AS BIGINT) - 1), w -> list_sum(list_transform("
        "generate_series(0, {p} - 1), j -> CASE WHEN w * {p} + j < len(dv) "
        "AND dv[CAST(w * {p} + j + 1 AS BIGINT)] > 0 "
        "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)))"
    ).format(p=p)


_BITSIGN_WORDS_SPARK = _bitsign_words_spark(BITSIGN_PACK)

_BITSIGN_WORDS_DUCK = _bitsign_words_duck(BITSIGN_PACK)

_BITSIGN_ORACLE = f"""
WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
           FROM embeddings
           WHERE {_fin_emb_duck('embedding')}),
b AS (SELECT vec_id, {_BITSIGN_WORDS_DUCK} AS words FROM s),
q AS (SELECT vec_id AS query_id, words AS qw FROM b
      WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS neighbor_id, words AS cw FROM b),
h AS (SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, least(len(qw),
             len(cw))), i -> bit_count(xor(qw[i], cw[i])))) AS BIGINT)
          AS hamming
      FROM q, c WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, hamming, rank
FROM (SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id)
      AS BIGINT) AS rank FROM h)
WHERE rank <= {TOP_K}
"""


@register("ext_sim_topk_bitsign", oracle=_BITSIGN_ORACLE)
def ext_sim_topk_bitsign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned 1-bit serving rung (r13 optimization pass):
    `ext_retrieval_eval` consumes this SAME Q×k table, so the
    pack+score corpus pass ran twice per session before. See
    `_bitsign_topk_build` for the full contract."""
    return session_pin(
        spark,
        sf_dir,
        "sim_bitsign_topk",
        lambda: _bitsign_topk_build(spark, sf_dir),
        source="embeddings.parquet",
    )


def _bitsign_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-BIT similarity serving: sign-binarized embeddings packed
    into {BITSIGN_PACK}-bit words, ranked by Hamming distance — the
    bottom rung of the quantization ladder (float brute force →
    int8 flat → PQ codes → sign bits), i.e. the 32-64x-compressed
    first-pass filter binary-embedding retrieval ships (Hamming on
    packed words is XOR + popcount — the cheapest distance there
    is; re-rank the survivors with int8/float upstream). Per query
    (vec_id < {N_QUERY_VECS}): top-{TOP_K} neighbors by
    (hamming ASC, neighbor_id).

    Exactness: the sketch is integer end to end — bit j of word w
    is [component > 0] (strict: zeros and negatives are 0), words
    stay in [0, 2^{BITSIGN_PACK}) so no shift or xor ever touches
    the BIGINT sign bit (DuckDB's `<<` HARD-ERRORS on 1 << 63 —
    found designing this; {BITSIGN_PACK}-bit packing is the
    portable contract), and hamming = Σ bit_count(xor(words)) is an
    exact BIGINT on both engines. Non-finite vectors leave the
    universe via the shared _fin_emb gate (NaN > 0 reads TRUE under
    NaN-greatest comparisons on BOTH engines, so the gate — not the
    sign rule — is what keeps them out).

    Scale shape: packing is scan-local (D floats → D/{BITSIGN_PACK}
    BIGINTs, a ~{BITSIGN_PACK}x shrink BEFORE any motion); the
    query side broadcasts ({N_QUERY_VECS} rows); scoring is a
    map-only broadcast join + in-row fold; the rank window rides
    the `_rank_topk` WindowGroupLimit device. At billions of
    vectors this exact plan serves as the coarse filter in front
    of `ext_sim_topk_int8`'s re-rank."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.expr(_fin_emb_spark()))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("dv")
        )
        .select("vec_id", F.expr(_BITSIGN_WORDS_SPARK).alias("words"))
    )
    e = compute_once(e)  # feeds BOTH the query and corpus sides
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("words").alias("qw")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("words").alias("cw")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(slice(qw, 1, least(size(qw), size(cw))), "
                "slice(cw, 1, least(size(qw), size(cw))), "
                "(x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), "
                "0L, (acc, v) -> acc + v)"
            ).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank") <= TOP_K)
    )


# -------------- 1-bit Hamming-band PAIR miner (r12 add — r11
# verdict item 6b: `ext_sim_topk_bitsign` SERVES queries at the
# 1-bit rung, but no pair MINER existed there)

HAMMING_BAND_BITS = 8  # band = one 8-bit packed word => 8 bands @ 64d
HAMMING_PAIR_MAX = 7  # pigeonhole-exact: bands (8) > max differing bits (7)
HAMMING_REENC_MOD = 5  # every 5th vector also lands re-embedded...
HAMMING_REENC_OFFSET = 1_000_000  # ...under vec_id + offset

_HAMMING_WORDS_DUCK = _bitsign_words_duck(HAMMING_BAND_BITS)

# exact brute force IS the oracle: banding with B bands is provably
# lossless for hamming <= B - 1 (pigeonhole), so the mined pair set
# must EQUAL the all-pairs scan — recall 1.0 by theorem, not by
# measurement (contrast the LSH miners, whose oracles must replay
# the bucketing because recall < 1 is part of their contract).
# The fixture corpus has no organic 1-bit near-dups (measured min
# pairwise sign-hamming 15 at sf0.01 — random-ish sign patterns), so
# the ingest plants the scenario the operator exists for, exactly as
# `ext_mm_dedup_phash` does on the media tier: every
# HAMMING_REENC_MOD-th vector also lands as a simulated nightly
# RE-EMBED with ONE sign flipped (component vec_id mod EMB_DIM — a
# pure function of the row; -x is an exact float op, so both engines
# flip the identical bit). Re-embed pairs sit at hamming ≤ 1 and are
# found; everything organic stays ≥ 13 and is honestly excluded.
# Shared CTE chain (universe -> re-embeds -> sign words -> scored
# pairs) — consumed by the pair-miner oracle AND the components
# oracle below, so the two can never diverge on what a "pair" is
# (the `_EMBCOS_COMP_CTES` convention).
_HAMMING_CTES = f"""s0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
            FROM embeddings
            WHERE {_fin_emb_duck('embedding')}),
re AS (SELECT vec_id + {HAMMING_REENC_OFFSET} AS vec_id,
         list_transform(dv, (x, i) -> CASE WHEN i = c THEN -x ELSE x END)
           AS dv
       FROM (SELECT vec_id, dv, vec_id % {EMB_DIM} + 1 AS c FROM s0
             WHERE vec_id % {HAMMING_REENC_MOD} = 0)),
s AS (SELECT vec_id, dv FROM s0 UNION ALL SELECT vec_id, dv FROM re),
bs AS (SELECT vec_id, {_HAMMING_WORDS_DUCK} AS words FROM s),
hp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        CAST(list_sum(list_transform(generate_series(1,
             least(len(a.words), len(b.words))),
             i -> bit_count(xor(a.words[i], b.words[i])))) AS BIGINT)
          AS hamming
      FROM bs a JOIN bs b ON a.vec_id < b.vec_id)"""

_HAMMING_PAIRS_ORACLE = (
    f"WITH {_HAMMING_CTES} "
    f"SELECT vec_a, vec_b, hamming FROM hp "
    f"WHERE hamming <= {HAMMING_PAIR_MAX}"
)


def _hamming_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dv) over finite base vectors ∪ the planted re-embeds —
    the Spark twin of the oracle's `s` CTE, shared by the pair miner
    and the components consumer.

    Id-space guard (r12 ADVICE): synthetic re-embed ids live at
    vec_id + HAMMING_REENC_OFFSET; an organic vec_id at or above the
    offset would collide — and because BOTH engines apply the same
    union, the oracle hash would still MATCH while pair/component
    identities silently merged. So an out-of-range organic id fails
    loudly at the scan (the EMB_DIM raise_error doctrine), never
    silently."""
    id_guard = (
        f"CASE WHEN vec_id < {HAMMING_REENC_OFFSET} THEN vec_id "
        "ELSE raise_error(concat('hamming universe: organic vec_id ', "
        "cast(vec_id as string), "
        f"' >= HAMMING_REENC_OFFSET ({HAMMING_REENC_OFFSET}) — "
        "synthetic re-embed ids would collide with organic ids and "
        "pair identities would silently merge; raise the offset "
        "(similarity.HAMMING_REENC_OFFSET)')) END"
    )
    base = (
        load(spark, sf_dir, "embeddings")
        .filter(F.expr(_fin_emb_spark()))
        .select(
            F.expr(id_guard).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("dv"),
        )
    )
    # simulated re-embeds: one sign flipped at component vec_id mod
    # EMB_DIM (Spark transform's index is 0-based; the oracle's
    # DuckDB lambda index is 1-based — both select the same slot)
    re = base.filter(F.col("vec_id") % HAMMING_REENC_MOD == 0).select(
        (F.col("vec_id") + HAMMING_REENC_OFFSET).alias("vec_id"),
        F.expr(
            f"transform(dv, (x, i) -> CASE WHEN i = cast(vec_id % {EMB_DIM} "
            "as int) THEN -x ELSE x END)"
        ).alias("dv"),
    )
    return base.unionByName(re)


@register("ext_sim_hamming_pairs", oracle=_HAMMING_PAIRS_ORACLE)
def ext_sim_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-BIT near-duplicate PAIR mining: sign-binarized embeddings
    packed into {HAMMING_BAND_BITS}-bit words, band-bucketed
    candidate generation, exact Hamming verify at distance ≤
    {HAMMING_PAIR_MAX} — the miner that completes the bitsign rung
    (`ext_sim_topk_bitsign` answers top-k QUERIES; this emits the
    corpus-wide dup-pair graph a binary-sketch dedup pass feeds to
    the component machinery, the `ext_mm_dedup_phash` pattern on the
    embedding tier).

    EXACT, not approximate: with B = 8 bands and threshold r = 7 < B,
    any pair within Hamming r is identical on ≥ B − r ≥ 1 full band
    (pigeonhole), so the band buckets provably surface every
    qualifying pair — the oracle is the brute-force all-pairs scan,
    and equality certifies recall 1.0 as a THEOREM at every SF
    (the `ext_dedup_simhash` banding argument, word-aligned).

    The fixture has no organic 1-bit near-dups (min pairwise
    sign-hamming 15 — see the oracle comment), so the ingest plants
    deterministic RE-EMBEDS: every {HAMMING_REENC_MOD}-th vector also
    lands with one sign flipped (the `ext_mm_dedup_phash` /
    `ext_dataset_diff` snapshot-simulation device) — the nightly
    re-embedding drift this rung's dedup actually hunts.

    Exactness: integer end to end — bit j of word w is
    [component > 0], words stay below the BIGINT sign bit, hamming =
    Σ bit_count(xor) — no float ever touches the contract (the
    non-finite gate only sets membership, as in the bitsign server).

    Like every content miner, assumes key-deduplicated (bronze-
    cleaned) input: under PK-violating vec_ids the oracle's id-keyed
    re-pairing changes the QUESTION, not the arithmetic — the
    documented `--dups` boundary class (tools/degen_sweep.py), where
    this op is crash-free and the ingest-dedup family upstream is the
    enforcement point.

    Scale shape: packing is scan-local (D floats → D/{HAMMING_BAND_BITS}
    small ints — payload never exceeds 8 bytes/vector after the
    projection, so carrying `words` THROUGH the band explode is
    cheaper than the phash miner's rescore joins); mining shuffles
    B rows per vector keyed (band, word); the bucket self-join's
    fan-out is bounded by bucket occupancy with AQE skew-join
    splitting the degenerate all-same-sign bucket (the LSH miner's
    salting device is the manual fallback, noted not needed while
    candidates stay integer-slim); verify is codegen'd xor/bit_count
    before the dedup shuffle, so only true pairs reach it.

    Session-pinned since r13 (optimization pass — the embcos_pairs
    convention): `ext_sim_hamming_components` consumes this SAME pair
    graph, so the band mine ran twice per session before; only the
    presentation orderBy stays per-query."""
    return _hamming_pairs_pinned(spark, sf_dir).orderBy("vec_a", "vec_b")


def _hamming_pairs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _build() -> DataFrame:
        # the packed frame feeds BOTH sides of the band self-join — pin
        # it or the sign packing (and its embeddings scan) runs twice
        sig = compute_once(
            _hamming_universe(spark, sf_dir).select(
                "vec_id",
                F.expr(_bitsign_words_spark(HAMMING_BAND_BITS)).alias("words"),
            )
        )
        k = sig.select(
            "vec_id", "words", F.posexplode("words").alias("band", "bv")
        )
        ham = F.expr(
            "aggregate(zip_with(slice(wa, 1, least(size(wa), size(wb))), "
            "slice(wb, 1, least(size(wa), size(wb))), "
            "(x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), "
            "0L, (acc, v) -> acc + v)"
        )
        return (
            k.alias("a")
            .join(
                k.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.col("a.words").alias("wa"),
                F.col("b.words").alias("wb"),
            )
            .select("vec_a", "vec_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= HAMMING_PAIR_MAX)
            .dropDuplicates(["vec_a", "vec_b"])
        )

    return session_pin(
        spark, sf_dir, "hamming_pairs", _build, source="embeddings.parquet"
    )


_HAMMING_COMP_ORACLE = (
    f"WITH RECURSIVE {_HAMMING_CTES}, "
    f"p AS (SELECT vec_a, vec_b FROM hp WHERE hamming <= {HAMMING_PAIR_MAX}), "
    "edges AS (SELECT vec_a AS src, vec_b AS dst FROM p "
    "UNION ALL SELECT vec_b, vec_a FROM p), "
    "reach(node, lbl) AS ("
    "  SELECT vec_id, vec_id FROM s "
    "  UNION "
    "  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node), "
    "comp AS (SELECT node AS vec_id, min(lbl) AS component "
    "FROM reach GROUP BY node), "
    "sz AS (SELECT component, count(*) AS cluster_size FROM comp "
    "GROUP BY component) "
    "SELECT c.vec_id, c.component, s.cluster_size, "
    "(c.vec_id = c.component) AS is_keeper "
    "FROM comp c JOIN sz s USING (component)"
)


@register("ext_sim_hamming_components", oracle=_HAMMING_COMP_ORACLE)
def ext_sim_hamming_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-bit dedup chain END TO END — `ext_dedup_semantic`'s shape
    on the bitsign rung: Hamming pair graph (`ext_sim_hamming_pairs`,
    pigeonhole-exact) → connected components via large-star/small-star
    → full cluster assignment with a keeper flag (keeper = the
    component's min vec_id). A base vector whose re-embed landed
    becomes a 2-cluster whose ORIGINAL id is kept and whose re-embed
    is dropped — exactly the nightly re-embedding cleanup the 1-bit
    sketch exists to make cheap.

    Exactness: the pair stage is exact by pigeonhole (recall 1.0 as
    a theorem — see the miner), components are engine-independent
    set algebra, so the whole chain hash-checks against a recursive
    CTE over the SAME shared pair CTEs (`_HAMMING_CTES` — one
    definition, two oracles, the `_EMBCOS_COMP_CTES` convention).

    Scale shape: inherited — B small-int rows per vector into the
    band join, star contraction O(log² n) rounds on a pair-sized
    edge list — ONCE per session via the `hamming_lss` pin since r13
    (the `_embcos_lss_pinned` convention) — sizes one window over the
    component key; output is the full assignment so retention ratios
    stay visible. (Scan audit: embeddings ×2 — the universe SPINE
    re-scans a vec_id-only pruned projection; the packed-signature
    frame the expensive branch reads is compute_once-pinned in the
    miner.)"""

    def _build() -> DataFrame:
        from .dedup import _large_small_star

        universe = _hamming_universe(spark, sf_dir).select("vec_id")
        pairs = _hamming_pairs_pinned(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        return _large_small_star(
            universe.select(F.col("vec_id").alias("doc_id")), pairs
        ).select(F.col("doc_id").alias("vec_id"), "component")

    comp = session_pin(
        spark, sf_dir, "hamming_lss", _build, source="embeddings.parquet"
    )
    w = W.partitionBy("component")
    return comp.select(
        "vec_id",
        "component",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("vec_id") == F.col("component")).alias("is_keeper"),
    )


# ----------------------- cross-rung retrieval-eval kit (r11 add)

# nDCG position weights, precomputed in Python and inlined into BOTH
# engines as 1e12-scaled BIGINT literals (the `ext_rank_rbo` device:
# no runtime log2() whose 1-ulp latitude could flip a rounding):
# W[r] = round_e12(1 / log2(r + 1)), P[s] = the prefix sums (the
# ideal DCG of s relevant slots). 1e12 — not the rbo device's 1e15 —
# keeps dcg*1000 inside BIGINT on Spark's ANSI multiply (Q·k·1e12·1e3
# ~ 5e16 ≪ 2^63; at 1e15 the permille step overflowed, and DuckDB's
# silent hugeint widening would have masked the asymmetry).
_NDCG_W = [int(1e12 / math.log2(r + 1) + 0.5) for r in range(1, TOP_K + 1)]
_NDCG_P = []
_acc = 0
for _w in _NDCG_W:
    _acc += _w
    _NDCG_P.append(_acc)
del _acc, _w


def _retrieval_rungs():
    """(name, callable) for every serving rung the eval table scores —
    the quantization ladder (int8 flat, PQ codes, sign bits) plus the
    IVF probe path. All four are themselves hash-checked operators;
    this table is the cross-rung comparison SURVEY's ladder prose
    promises but no single query previously emitted."""
    return (
        ("bitsign", ext_sim_topk_bitsign),
        ("int8", ext_sim_topk_int8),
        ("ivf", ext_sim_ivf),
        ("pq", ext_emb_topk_pq),
    )


def _retrieval_eval_oracle() -> str:
    w_rows = ", ".join(
        f"({r}, CAST({v} AS BIGINT))"
        for r, v in zip(range(1, TOP_K + 1), _NDCG_W)
    )
    p_rows = ", ".join(
        f"({s}, CAST({v} AS BIGINT))"
        for s, v in zip(range(1, TOP_K + 1), _NDCG_P)
    )
    rung_sql = (
        ("bitsign", _BITSIGN_ORACLE),
        ("int8", _TOPK_INT8_ORACLE),
        ("ivf", _ivf_oracle()),
        ("pq", _PQ_TOPK_ORACLE),
    )
    ctes = [
        f"truth AS (SELECT query_id, neighbor_id FROM ({_TOPK_ORACLE}))",
        f"wt(r, v) AS (VALUES {w_rows})",
        f"pw(s, v) AS (VALUES {p_rows})",
        "base AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries, "
        "CAST(count(*) AS BIGINT) AS total_slots FROM truth)",
        "idcg AS (SELECT CAST(coalesce(sum(pw.v), 0) AS BIGINT) AS idcg_e12 "
        "FROM (SELECT query_id, count(*) AS s FROM truth GROUP BY 1) tq "
        "JOIN pw ON pw.s = tq.s)",
    ]
    for name, sql in rung_sql:
        ctes.append(
            f"r_{name} AS (SELECT query_id, neighbor_id, rank FROM ({sql}))"
        )
        ctes.append(
            f"h_{name} AS (SELECT a.query_id, a.rank FROM r_{name} a "
            f"JOIN truth t ON t.query_id = a.query_id "
            f"AND t.neighbor_id = a.neighbor_id)"
        )
        ctes.append(
            f"m_{name} AS (SELECT '{name}' AS rung, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM h_{name}) AS hits, "
            f"(SELECT CAST(coalesce(sum(w.v), 0) AS BIGINT) "
            f"FROM h_{name} h JOIN wt w ON w.r = h.rank) AS dcg_e12, "
            f"(SELECT CAST(coalesce(sum(1000000 // mr), 0) AS BIGINT) FROM "
            f"(SELECT query_id, min(rank) AS mr FROM h_{name} GROUP BY 1)) "
            f"AS mrr_sum_micro)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM m_{name}" for name, _ in rung_sql)
    return (
        "WITH " + ", ".join(ctes) + f", m AS ({union}) "
        "SELECT m.rung, b.n_queries, b.total_slots, m.hits, "
        "m.hits * 1000 // nullif(b.total_slots, 0) AS recall_pm, "
        "m.mrr_sum_micro, m.dcg_e12, i.idcg_e12, "
        "m.dcg_e12 * 1000 // nullif(i.idcg_e12, 0) AS ndcg_pm "
        "FROM m, base b, idcg i"
    )


@register("ext_retrieval_eval", oracle=_retrieval_eval_oracle())
def ext_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-rung retrieval evaluation (r10 verdict item 6a): ONE
    parameterized table scoring every approximate serving rung —
    bitsign Hamming, int8 flat, IVF probes, PQ codes — against the
    float brute-force ground truth (`ext_sim_topk`), with the three
    standard ANN-serving metrics per rung:

      recall_pm       hits·1000 ÷ truth slots (floor)
      mrr_sum_micro   Σ_queries floor(1e6 / first-hit rank) — the
                      un-normalized MRR numerator; exact BIGINT
                      (per-query reciprocal ranks as integer
                      micro-units, so the sum is order-free)
      ndcg_pm         DCG·1000 ÷ ideal-DCG with binary relevance and
                      the precomputed 1e12-scaled 1/log2(r+1) weight
                      literals shared with the oracle

    The ladder's per-rung recall previously lived only in pytest
    pins; this registers the comparison as a driver-hash-checked
    corpus artifact (every rung's result is itself an oracle-checked
    query, so the eval composes four proven plans plus one truth
    join per rung).

    Scale shape: truth and each rung end in TakeOrderedAndProject /
    window-top-k plans over ONE corpus scan each; the metric joins
    touch ≤ Q·k rows. The truth frame is the SESSION pin behind
    `ext_sim_topk` (r13 — it feeds the base/idcg aggregates and all
    four hit joins, already materialized once per session), and the
    IVF rung reads the pinned candidate set (`_ivf_scored`)."""
    truth = ext_sim_topk(spark, sf_dir).select("query_id", "neighbor_id")
    base = truth.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("total_slots"),
    )
    w_arr = "array(" + ", ".join(f"{v}L" for v in _NDCG_W) + ")"
    p_arr = "array(" + ", ".join(f"{v}L" for v in _NDCG_P) + ")"
    idcg = (
        truth.groupBy("query_id")
        .agg(F.count("*").alias("s"))
        .agg(
            F.coalesce(
                F.sum(F.expr(f"element_at({p_arr}, CAST(s AS INT))")),
                F.lit(0),
            )
            .cast("long")
            .alias("idcg_e12")
        )
    )
    # ONE multi-rung aggregation pass (r14, verdict r13 item 4): the
    # r13 shape ran 12 separate aggregate branches (hits/DCG + MRR +
    # crossJoin per rung) — 3 jobs x 4 rungs of pure stage overhead
    # over four tiny pinned Q×k frames. The rung frames now union with
    # a rung label into ONE hit join against the pinned truth, then
    # two grouped aggs (hits/DCG by rung; first-hit MRR by rung) —
    # same integer arithmetic per row, grouped instead of repeated.
    # A rung with zero hits drops out of the grouped aggs, so the
    # 4-row literal rung spine left-joins them back with the same
    # coalesce(0) the per-rung branches applied.
    cand = None
    for name, fn in _retrieval_rungs():
        a = fn(spark, sf_dir).select(
            F.lit(name).alias("rung"), "query_id", "neighbor_id", "rank"
        )
        cand = a if cand is None else cand.unionByName(a)
    h = compute_once(  # feeds the hit/DCG agg AND the MRR agg
        cand.join(truth, ["query_id", "neighbor_id"]).select(
            "rung", "query_id", "rank"
        )
    )
    agg1 = h.groupBy("rung").agg(
        F.count("*").cast("long").alias("hits_"),
        F.sum(F.expr(f"element_at({w_arr}, CAST(rank AS INT))"))
        .cast("long")
        .alias("dcg_"),
    )
    mrr = (
        h.groupBy("rung", "query_id")
        .agg(F.min("rank").alias("mr"))
        .groupBy("rung")
        .agg(F.sum(F.expr("1000000 div mr")).cast("long").alias("mrr_"))
    )
    spine = literal_frame(
        spark, [(name,) for name, _ in _retrieval_rungs()], "rung string"
    )
    rows = (
        spine.join(F.broadcast(agg1), "rung", "left")
        .join(F.broadcast(mrr), "rung", "left")
        .select(
            "rung",
            F.coalesce(F.col("hits_"), F.lit(0)).cast("long").alias("hits"),
            F.coalesce(F.col("dcg_"), F.lit(0)).cast("long").alias("dcg_e12"),
            F.coalesce(F.col("mrr_"), F.lit(0))
            .cast("long")
            .alias("mrr_sum_micro"),
        )
    )
    return (
        rows.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(idcg))
        .select(
            "rung",
            "n_queries",
            "total_slots",
            "hits",
            F.expr("hits * 1000 div nullif(total_slots, 0)")
            .cast("long")
            .alias("recall_pm"),
            "mrr_sum_micro",
            "dcg_e12",
            "idcg_e12",
            F.expr("dcg_e12 * 1000 div nullif(idcg_e12, 0)")
            .cast("long")
            .alias("ndcg_pm"),
        )
    )


# ------------- incremental embedding dedup (r12 add — r11 verdict
# item 6c: the embcos twin of `stream_dedup_incremental_chain` /
# `ext_dedup_incremental_bucketed`, the nightly-embeddings pattern:
# a fresh increment of vectors lands, and only IT is checked — first
# against the standing base index, then within itself)


def _cos_sql_xy(x: str, y: str) -> str:
    """`_COS_SQL` parameterized over the two vector expressions (the
    same fold-cosine arithmetic, so any alias pair can be scored)."""
    return (
        f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[])) / "
        f"(sqrt(list_dot_product(CAST({x} AS DOUBLE[]), CAST({x} AS DOUBLE[]))) * "
        f"sqrt(list_dot_product(CAST({y} AS DOUBLE[]), CAST({y} AS DOUBLE[]))))"
    )


def embcos_flagged_ids(
    big: DataFrame, small: DataFrame, lt_only: bool
) -> DataFrame:
    """Distinct small-side vec_ids having fold-cosine ≥
    COS_DUP_THRESHOLD against ANY big-side row — the probe kernel of
    the incremental embcos family, shared by
    `ext_dedup_embcos_incremental` (batch) and
    `drain_embcos_incremental` (streaming). With `lt_only=True` only
    big rows with smaller vec_id count (the first-copy-wins triangle:
    pass the increment as BOTH sides).

    Inputs are (vec_id, dv) rows, dv finite by the callers'
    `_fin_emb_spark` filter. The big side is blocked and the small
    side replicated (`_block_probe`); each block's cosines are
    `_fold_cos`, so every flag compares the SAME IEEE doubles the
    JVM fold compares and the id set is bit-identical. A pair with
    zero norm product reads NULL cosine on the JVM (`nullif`) and is
    masked here (excluded before the ≥ cut).

    Scale shape: the small side is the increment (small by the
    incremental premise), the big side streams through one blocked
    pass — per-task work bounded by |big|/B · |small|."""
    import numpy as np

    def score(ids_a, mat_a, ids_b, mat_b, same_block):
        cos, denom = _fold_cos(mat_a, mat_b)
        keep = _tri_mask(ids_a, ids_b, same_block) & (denom != 0.0)
        keep &= cos >= COS_DUP_THRESHOLD
        return {"vec_id": np.unique(ids_b[keep.any(axis=0)])}

    return _block_probe(big, small, score, "vec_id bigint", lt_only).distinct()


_EMBCOS_INCR_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings
           WHERE {_fin_emb_duck('embedding')}),
b AS (SELECT vec_id, embedding FROM e
      WHERE {doc_bucket_sql('vec_id')} < {INCR_BASE_BUCKETS}),
i AS (SELECT vec_id, embedding FROM e
      WHERE {doc_bucket_sql('vec_id')} >= {INCR_BASE_BUCKETS})
SELECT i.vec_id,
  EXISTS (SELECT 1 FROM b
          WHERE {_cos_sql_xy('i.embedding', 'b.embedding')}
                >= {COS_DUP_THRESHOLD}) AS dup_of_base,
  EXISTS (SELECT 1 FROM i i2 WHERE i2.vec_id < i.vec_id
          AND {_cos_sql_xy('i.embedding', 'i2.embedding')}
              >= {COS_DUP_THRESHOLD}) AS dup_in_increment,
  (NOT EXISTS (SELECT 1 FROM b
               WHERE {_cos_sql_xy('i.embedding', 'b.embedding')}
                     >= {COS_DUP_THRESHOLD})
   AND NOT EXISTS (SELECT 1 FROM i i2 WHERE i2.vec_id < i.vec_id
                   AND {_cos_sql_xy('i.embedding', 'i2.embedding')}
                       >= {COS_DUP_THRESHOLD})) AS is_new
FROM i
"""


@register("ext_dedup_embcos_incremental", oracle=_EMBCOS_INCR_ORACLE)
def ext_dedup_embcos_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-cosine dedup — the nightly-embeddings
    pattern: the corpus splits into a standing BASE (md5 buckets
    0-{INCR_BASE_BUCKETS}) and tonight's INCREMENT (the rest — the
    `ext_dedup_incremental` split, applied to vec_id), and ONLY the
    increment is scored: each new vector is flagged against the base
    (dup_of_base), against earlier increment vectors by vec_id
    (dup_in_increment — first copy wins, the
    `stream_dedup_incremental_chain` convention), else is_new. The
    point of incremental dedup is what this plan never does: base ×
    base is never rescored — nightly cost is |inc| × base + |inc|²,
    not corpus².

    Exactness: cosine is `_fold_cos` (`embcos_flagged_ids`), whose
    multiply/divide order matches the oracle's expression, so values
    are bit-equal; zero-norm vectors read NULL cosine on both engines
    (masked here vs DuckDB's NULL on double division by zero) and
    fail every ≥ t cut, so a padding/failed-encode vector can flag
    nothing and nothing flags against it — it lands is_new, on both
    engines.

    Scale shape: the increment is SMALL by construction (that is the
    premise of running incrementally), so it replicates to every
    block while the base is blocked once (`_block_probe`) — the
    `ext_dedup_incremental_bucketed` economics on the vector tier;
    the in-increment triangle is |inc|²-bounded. At 100 TB the probe
    composes with the LSH-bucketed base index
    (`ext_dedup_embcos_lsh`'s buckets persist; tonight's vectors
    hash into them and only bucket-local candidates rescore — the
    exact-probe arm here is the audit/verification shape, the same
    asymmetry as every `_exhaustive` rung)."""
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.expr(_fin_emb_spark()))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("dv"),
            doc_bucket("vec_id").alias("bkt"),
        )
    )
    base = emb.filter(F.col("bkt") < INCR_BASE_BUCKETS).select("vec_id", "dv")
    # the increment feeds the probe, the triangle (both sides), and
    # the output spine — pin it or four branches re-scan embeddings
    inc = compute_once(
        emb.filter(F.col("bkt") >= INCR_BASE_BUCKETS).select("vec_id", "dv")
    )
    # base × inc probe, then the first-copy-wins inc triangle
    dob = embcos_flagged_ids(base, inc, lt_only=False).withColumn(
        "f_base", F.lit(True)
    )
    dii = embcos_flagged_ids(inc, inc, lt_only=True).withColumn(
        "f_incr", F.lit(True)
    )
    return (
        inc.select("vec_id")
        .join(F.broadcast(dob), "vec_id", "left")
        .join(F.broadcast(dii), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("f_base"), F.lit(False)).alias("dup_of_base"),
            F.coalesce(F.col("f_incr"), F.lit(False)).alias(
                "dup_in_increment"
            ),
            (
                ~(
                    F.coalesce(F.col("f_base"), F.lit(False))
                    | F.coalesce(F.col("f_incr"), F.lit(False))
                )
            ).alias("is_new"),
        )
    )


# The LSH-probe arm of the incremental chain: same flags, but the
# pair evidence comes from the session-pinned APPROXIMATE mine
# (`ext_dedup_embcos_lsh`) instead of the exact bipartite probe —
# the shape a nightly run at 100 TB actually executes (tonight's
# vectors hash into the standing seeded buckets; only bucket-local
# candidates rescore). The oracle replays the ENTIRE seeded mine
# (`_lsh_pairs_oracle` embedded as a derived table) and derives the
# flags from that pair set, so approximation-induced flag flips are
# part of the hash-checked contract, not noise.

_EMBCOS_INCR_LSH_ORACLE = f"""
WITH ap AS (SELECT vec_a, vec_b FROM (
{_lsh_pairs_oracle(EMBCOS_LSH_BUCKET_LEN, math.sqrt(2.0 - 2.0 * COS_DUP_THRESHOLD), True, "dist")}
)),
sym AS (SELECT vec_a AS vid, vec_b AS partner FROM ap
        UNION ALL SELECT vec_b, vec_a FROM ap),
i AS (SELECT vec_id FROM embeddings
      WHERE {_fin_emb_duck('embedding')}
      AND {doc_bucket_sql('vec_id')} >= {INCR_BASE_BUCKETS})
SELECT i.vec_id,
  EXISTS (SELECT 1 FROM sym WHERE sym.vid = i.vec_id
          AND {doc_bucket_sql('sym.partner')} < {INCR_BASE_BUCKETS})
    AS dup_of_base,
  EXISTS (SELECT 1 FROM sym WHERE sym.vid = i.vec_id
          AND {doc_bucket_sql('sym.partner')} >= {INCR_BASE_BUCKETS}
          AND sym.partner < i.vec_id) AS dup_in_increment,
  (NOT EXISTS (SELECT 1 FROM sym WHERE sym.vid = i.vec_id
               AND {doc_bucket_sql('sym.partner')} < {INCR_BASE_BUCKETS})
   AND NOT EXISTS (SELECT 1 FROM sym WHERE sym.vid = i.vec_id
                   AND {doc_bucket_sql('sym.partner')} >= {INCR_BASE_BUCKETS}
                   AND sym.partner < i.vec_id)) AS is_new
FROM i
"""


@register("ext_dedup_embcos_incremental_lsh", oracle=_EMBCOS_INCR_LSH_ORACLE)
def ext_dedup_embcos_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-cosine dedup, LSH-PROBE arm — the same
    (vec_id, dup_of_base, dup_in_increment, is_new) contract as
    `ext_dedup_embcos_incremental`, with the pair evidence drawn from
    the session-pinned approximate mine (`ext_dedup_embcos_lsh`)
    instead of the exact bipartite probe. This IS the nightly shape
    at 100 TB: the base's bucket index stands, tonight's vectors
    hash into it, only bucket-local candidates are scored — per-night
    cost is increment-proportional, and the standing mine is shared
    with every other consumer of the pin.

    Hash-checked APPROXIMATION contract (the `ext_sim_lsh` doctrine):
    the oracle replays the full seeded-plane mine in SQL and derives
    the flags from that exact pair set, so which dup a bucketing
    recall miss drops is deterministic and driver-checked — and at
    driver SFs measured LSH recall is 1.0, so the flags EQUAL the
    exact arm's (asserted in tests/test_similarity.py; at other
    scales the recall floor is the statistical statement).

    Scale shape: derives everything from the pinned pair frame —
    one symmetric explode of a pair-sized list, two md5-bucket
    predicates, two id-keyed semi-joins against the increment spine.
    Nothing here rescans or reshuffles the corpus; the mine's cost
    is paid once per session (or per night, amortized across every
    consumer of the standing index)."""
    pairs = ext_dedup_embcos_lsh(spark, sf_dir).select("vec_a", "vec_b")
    sym = pairs.select(
        F.col("vec_a").alias("vid"), F.col("vec_b").alias("partner")
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("vid"), F.col("vec_a").alias("partner")
        )
    ).withColumn("pbkt", doc_bucket("partner"))
    spine = (
        load(spark, sf_dir, "embeddings")
        .filter(F.expr(_fin_emb_spark()))
        .filter(doc_bucket("vec_id") >= INCR_BASE_BUCKETS)
        .select("vec_id")
    )
    dob = (
        sym.filter(F.col("pbkt") < INCR_BASE_BUCKETS)
        .select(F.col("vid").alias("vec_id"))
        .distinct()
        .withColumn("f_base", F.lit(True))
    )
    dii = (
        sym.filter(
            (F.col("pbkt") >= INCR_BASE_BUCKETS)
            & (F.col("partner") < F.col("vid"))
        )
        .select(F.col("vid").alias("vec_id"))
        .distinct()
        .withColumn("f_incr", F.lit(True))
    )
    fb = F.coalesce(F.col("f_base"), F.lit(False))
    fi = F.coalesce(F.col("f_incr"), F.lit(False))
    return (
        spine.join(F.broadcast(dob), "vec_id", "left")
        .join(F.broadcast(dii), "vec_id", "left")
        .select(
            "vec_id",
            fb.alias("dup_of_base"),
            fi.alias("dup_in_increment"),
            (~(fb | fi)).alias("is_new"),
        )
    )


# ------------- incremental embedding-distribution drift (r13 add):
# the "did tonight's encoder (or tonight's content) drift?" monitor
# every nightly embedding pipeline runs BEFORE trusting the
# increment enough to dedup/index it

_EMB_DRIFT_ORACLE = f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
m AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS amax FROM q),
c AS (SELECT vec_id,
        CASE WHEN amax = 0.0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(dv, x -> CAST(greatest(-127, least(127,
                  CAST(floor(x / (amax / 127.0) + 0.5) AS INTEGER))) AS BIGINT))
        END AS codes
      FROM m WHERE NOT isnan(amax) AND amax < CAST('Infinity' AS DOUBLE)),
lab AS (SELECT e.vec_id, e.label, c.codes FROM embeddings e
        JOIN c ON c.vec_id = e.vec_id),
pos AS (SELECT vec_id, label, codes,
               unnest(generate_series(1, len(codes))) AS d FROM lab),
bp AS (SELECT label, CAST(d AS BIGINT) AS dim,
              CAST(sum(codes[CAST(d AS INT)]) AS BIGINT) AS cs,
              CAST(count(*) AS BIGINT) AS n
       FROM pos WHERE {doc_bucket_sql('vec_id')} < {INCR_BASE_BUCKETS}
       GROUP BY 1, 2),
ip AS (SELECT label, CAST(d AS BIGINT) AS dim,
              CAST(sum(codes[CAST(d AS INT)]) AS BIGINT) AS cs,
              CAST(count(*) AS BIGINT) AS n
       FROM pos WHERE {doc_bucket_sql('vec_id')} >= {INCR_BASE_BUCKETS}
       GROUP BY 1, 2),
bc AS (SELECT label, dim, n, cs * 1000000 // n AS c FROM bp),
ic AS (SELECT label, dim, n, cs * 1000000 // n AS c FROM ip)
SELECT bc.label,
       CAST(max(bc.n) AS BIGINT) AS n_base,
       CAST(max(ic.n) AS BIGINT) AS n_inc,
       CAST(sum(bc.c * ic.c) AS BIGINT) AS dot_e12,
       CAST(sum(bc.c * bc.c) AS BIGINT) AS base_norm2_e12,
       CAST(sum(ic.c * ic.c) AS BIGINT) AS inc_norm2_e12,
       CASE WHEN sum(bc.c * bc.c) = 0 OR sum(ic.c * ic.c) = 0 THEN NULL
            ELSE CAST(sum(bc.c * ic.c) AS DOUBLE)
                 / (sqrt(CAST(sum(bc.c * bc.c) AS DOUBLE))
                    * sqrt(CAST(sum(ic.c * ic.c) AS DOUBLE))) END AS drift_cos
FROM bc JOIN ic ON bc.label = ic.label AND bc.dim = ic.dim
GROUP BY bc.label
"""


@register("ext_emb_drift_incremental", oracle=_EMB_DRIFT_ORACLE)
def ext_emb_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-distribution DRIFT probe — the per-label
    base-vs-increment centroid comparison a nightly embedding
    pipeline checks before trusting tonight's encode run (encoder
    regression, content shift, or a silently changed normalization
    all show up as centroid rotation long before they show up in
    downstream metrics; cf. the model-version drift monitoring
    `ext_emb_centroids_int8` exists for — this is that operator's
    two-snapshot consumer, `agg_dist_drift_probe`'s question asked
    on the vector tier).

    Per label present on BOTH sides of the `ext_dedup_incremental`
    md5 split: vector counts, the exact integer dot of the two
    micro-scaled int8 centroids, both centroid norm², and the
    centroid cosine (`drift_cos` ≈ 1 ⇒ stable; lower ⇒ the class
    moved). Sums are BIGINT-exact under any partitioning
    (`ext_emb_centroids_int8`'s order-independence argument — int8
    code sums, never float accumulation; |c| ≤ 127e6 so a 64-dim dot
    peaks ~1e18, inside int64); the cosine is three IEEE ops
    (sqrt, sqrt, divide) from identical exact integers, so even the
    float column is bit-equal cross-engine. Zero-norm centroids
    read NULL drift (no direction to compare — the degenerate
    all-zero class).

    Scale shape: quantization is scan-local; the transpose explode
    emits (side, label, dim, code) ints reduced by map-side partials
    to ≤ 2 × labels × dims rows; everything after is
    label-cardinality-sized. The corpus never shuffles and no
    vector reaches the driver."""
    z = _with_int8_codes(
        load(spark, sf_dir, "embeddings"), extra_cols=("label",)
    )
    cell = (
        z.select(
            "label",
            (doc_bucket("vec_id") < INCR_BASE_BUCKETS).alias("in_base"),
            F.posexplode("codes").alias("dim0", "code"),
        )
        .groupBy("in_base", "label", "dim0")
        .agg(F.sum("code").alias("cs"), F.count("*").alias("n"))
        .select(
            "in_base",
            "label",
            (F.col("dim0") + 1).cast("long").alias("dim"),
            "n",
            F.expr("cs * 1000000 div n").alias("c"),
        )
    )
    # one transpose agg feeds both sides of the label join
    cell = compute_once(cell)
    bc = cell.filter(F.col("in_base")).select(
        "label", "dim", F.col("n").alias("bn"), F.col("c").alias("bcv")
    )
    ic = cell.filter(~F.col("in_base")).select(
        "label", "dim", F.col("n").alias("inn"), F.col("c").alias("icv")
    )
    agg = (
        bc.join(ic, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("bn").alias("n_base"),
            F.max("inn").alias("n_inc"),
            F.sum(F.col("bcv") * F.col("icv")).alias("dot_e12"),
            F.sum(F.col("bcv") * F.col("bcv")).alias("base_norm2_e12"),
            F.sum(F.col("icv") * F.col("icv")).alias("inc_norm2_e12"),
        )
    )
    cos = F.col("dot_e12").cast("double") / (
        F.sqrt(F.col("base_norm2_e12").cast("double"))
        * F.sqrt(F.col("inc_norm2_e12").cast("double"))
    )
    return agg.select(
        "label",
        "n_base",
        "n_inc",
        "dot_e12",
        "base_norm2_e12",
        "inc_norm2_e12",
        F.when(
            (F.col("base_norm2_e12") == 0) | (F.col("inc_norm2_e12") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(cos)
        .alias("drift_cos"),
    )
