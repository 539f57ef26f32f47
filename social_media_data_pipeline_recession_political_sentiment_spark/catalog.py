"""Table catalog over the driver-generated parquet testdata.

Maps the reference's Postgres tables (SURVEY §1.1) onto columnar
parquet DataFrames. ``load`` is the single scan entry point so every
query benefits from parquet column pruning + predicate pushdown
(Catalyst handles both once the plan is declarative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Plan-level memo for `load` (r14 optimization pass, the per-query
# constant-floor attack): every `spark.read.parquet` call re-lists the
# source and re-reads the parquet footer for schema inference — a pure
# driver-side ~75 ms bill paid ~345 times per bench pass for the SAME
# ten immutable tables. DataFrames are immutable, so returning the one
# already-analyzed frame is pure plan reuse: NOTHING is computed or
# cached result-wise (every action still scans the parquet files), the
# plan shape is byte-identical, and the key folds in the same
# applicationId + source fingerprint discipline as session_pin, so a
# rewritten source or a fresh session always misses and re-reads the
# footer. Unstatable sources are never memoized.
_LOAD_MEMO: dict = {}
_LOAD_MEMO_CAP = 256  # 10 tables x 3 sf_dirs x a few sessions; FIFO


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (columnar parquet scan; SURVEY §2.1
    `scan_table`, reference `Data Analysis/Reddit_4chan_Analysis.py:106-113`).
    Memoized per (application, realpath, table, source-fingerprint) —
    see _LOAD_MEMO above; `_load_build` is the actual scan plan.

    Memoized frames share attribute IDs: two `load` calls for the same
    table return the same plan, so a self-join of that table must join
    on string keys (USING columns, or `alias()`-qualified names such as
    `F.col("a.x")`), never on `df1["x"] == df2["y"]` conditions, which
    Spark rejects as ambiguous. Returning `alias()` copies from `load`
    would not avoid this: an alias keeps the attribute IDs.

    Timestamp normalization (the "one choke point" of session.py's
    docstring): driver testdata has shipped ts columns in two parquet
    encodings across rounds — TIMESTAMP(NANOS) (unreadable by Spark's
    vectorized reader; arrives as a long of nanos under
    spark.sql.legacy.parquet.nanosAsLong=true) and plain
    timestamp[us] without timezone (read as TIMESTAMP_NTZ since
    Spark's parquet reader infers NTZ for non-UTC-adjusted
    timestamps). Both are normalized to TimestampType here so every
    operator downstream sees ONE timestamp type. The NTZ bridge is
    `make_timestamp(..., 'UTC')` over the NTZ wall-clock components —
    the components are session-tz-independent by definition and the
    explicit 'UTC' zone argument pins the interpretation, so the
    resulting epoch equals DuckDB's `epoch_us` on the same naive
    column REGARDLESS of the session timezone.
    (`to_utc_timestamp(ntz, 'UTC')` and a plain cast both coerce NTZ
    through the SESSION zone first — verified empirically under an
    America/New_York session — and would shift every epoch on a
    non-UTC driver session.)"""
    import os as _os

    fp = source_fingerprint(_os.path.join(sf_dir, f"{name}.parquet"))
    if fp is None:  # unstatable: no safe key — build (and surface errors)
        return _load_build(spark, sf_dir, name)
    key = (
        spark.sparkContext.applicationId,
        _os.path.realpath(sf_dir),
        name,
        fp,
    )
    df = _LOAD_MEMO.get(key)
    if df is None:
        df = _load_build(spark, sf_dir, name)
        while len(_LOAD_MEMO) >= _LOAD_MEMO_CAP:
            _LOAD_MEMO.pop(next(iter(_LOAD_MEMO)))
        _LOAD_MEMO[key] = df
    return df


def _load_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The actual scan plan behind `load` (docstring there)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # legacy nanos encoding: long of nanos -> micros TimestampType
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, ntz_as_utc_instant(f.name))
    return df


def compute_once(df: DataFrame) -> DataFrame:
    """Compute-once seam for a derived frame feeding MULTIPLE plan
    branches (`localCheckpoint(eager=False)`): Spark does not
    deduplicate common DataFrame subplans, so a frame referenced by k
    branches re-scans its source and re-runs its derivation k times —
    invisible at sf0.1, a k× corpus-read-and-tokenize bill at 100 TB
    (found by `tools/scan_count_audit.py`, r6: 37 queries scanned a
    big table ≥3×). The checkpoint pins the frame to one concrete
    RDD (MEMORY_AND_DISK, spills cleanly); every branch then reads
    the materialized partitions.

    Use it on SLIM frames only — a per-doc fingerprint/weight table,
    a tokenized/shingled relation about the size of the text it
    came from, a calendar- or vocab-bounded aggregate — where one
    materialization is cheaper than k scans PLUS k re-derivations
    (tokenize/regex/hash CPU dominates the re-scan at scale). Do NOT
    use it for the two-pass scalar-stats pattern (stats scan +
    apply scan is the standard, correct shape — a global-stats
    window would funnel the corpus into one task), and never on a
    raw wide-text frame (materializing 100 TB to save a columnar
    re-scan is a loss).

    eager=False keeps the registry contract lazy (queries() builds
    plans without executing); the first action materializes, and
    concurrent stages at worst duplicate the first computation.

    Operational caveats (r6 sweep review — stated, not hidden):
    localCheckpoint CUTS LINEAGE, so a pinned partition lost to an
    executor failure cannot be recomputed — the JOB fails (never a
    wrong answer) and must be retried; Spark documents it as unsafe
    under dynamic allocation. And pinned blocks live until the
    Python frame is GC'd and the ContextCleaner runs, so a long
    one-session sweep over many queries (bench.py, the verify gate)
    accumulates dead blocks on executor disk nondeterministically.
    A production deployment trades these off explicitly: reliable
    `checkpoint()` into a checkpoint dir (fault-tolerant, pays HDFS
    writes), or `persist()` + explicit `unpersist()` lifecycle
    (keeps lineage, needs cache management the harness's
    build-return-collect contract has no hook for). The seam exists
    so that swap is ONE line."""
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# Session-pinned shared frames (the "mine once, consume many" seam).
#
# Several operator families derive the SAME expensive intermediate
# from the same source — the shingle relation, the exact-Jaccard pair
# graph, the banded-MinHash candidate set, the LSS component
# assignment. Within one session (the bench, the verify gate, a
# production dedup run) each consumer re-mining its own copy multiplies
# the dominant cost (r10 verdict: the miner family re-mined the pair
# graph up to 6x per bench pass) AND leaks storage: every per-query
# `compute_once` localCheckpoint pins new executor blocks until the
# Python frame is GC'd and the ContextCleaner runs — nondeterministic
# in a long 311-query sweep (the r10 driver-bench 3x miner-family
# regression's pressure source).
#
# `session_pin` fixes both: ONE `persist(MEMORY_AND_DISK)`-backed frame
# per (application, source-fingerprint, tag), explicitly `unpersist`ed
# on eviction / `clear_session_pins()` — blocks are released
# deterministically, not left to finalizers. Unlike localCheckpoint,
# persist KEEPS LINEAGE: a pinned partition lost to executor failure
# recomputes from source instead of permanently failing the memo entry
# (the r10-ADVICE failure mode — a broken checkpointed frame served
# forever — cannot occur, no invalidation hook needed).
#
# Invalidation: the cache key folds in a RECURSIVE source fingerprint
# (every file's relpath + mtime_ns + size + the file count — r10
# ADVICE: a non-recursive lexicographic (mtime, size) max missed
# nested layouts and mtime-preserving part-file rewrites). An
# unstatable source is NEVER pinned: serving a possibly-stale frame
# from an exactness-contract operator is the one failure mode this
# cache must not have.

_SESSION_PINS: dict = {}
# Cap audit (r11 verdict item 7; re-run for the r14 OPTIMIZATION
# pass). r14 pin-economics rule (verdict r13 item 2): every pin tag
# must have ≥2 consumers — the four r13 single-consumer pins
# (lp_components, phash_lss, ivf_cand_all, sim_lsh_fin_cand) were
# DROPPED and embcos_lsh_lss became a within-invocation compute_once;
# per-family build-inclusive (pass-1) vs cached (pass-2) costs are
# published in OPTIMIZATION_r14.md. 28 live tag families:
# dedup.py — shingles, shingle_inter, shingle_sizes, jaccard_pairs,
#   mh_signatures,
#   mh_cand, lss_components, pipeline_comp, pipeline_mh_comp;
# similarity.py — embcos_pairs, embcos_lsh_pairs, embcos_lss,
#   sim_topk, sim_int8_topk, sim_pq_topk,
#   sim_bitsign_topk, ivf_cand,
#   sim_lsh_nn_cand, emb_gram, hamming_pairs, hamming_lss;
# text_analysis.py — lm_doc_scores, bpe_merges, bi_doc_stream,
#   bigram_census, bm25_scored, fusion_arms;
# multimodal.py — phash_pairs.
# × 3 concurrently-live sf_dirs (0.001/0.01/0.1 in one gate session)
# = 84 keys; 108 leaves eight more tag families of slack before any
# mid-gate thrash. Every pinned frame is SLIM by construction (id
# pairs, doc-keyed signatures, Q×k top-ks, component assignments,
# the d(d+1)/2 Gram; bi_doc_stream and shingles are the two
# corpus-sized exceptions, both ~the text they came from, both
# multi-consumer mines). tests/test_properties.py::
# test_session_pin_no_eviction_full_single_sf_sweep asserts zero
# evictions across a single-sf_dir sweep of every pin family.
_SESSION_PIN_CAP = 108
_EVICTIONS: list = []  # keys FIFO-evicted under cap pressure (test hook)
_EVICTIONS_MAX = 256  # bound the log in a long-lived session (r12 ADVICE)


def source_fingerprint(path: str):
    """Recursive content-layout fingerprint of a file or directory:
    (file_count, sha1 over every file's (relpath, mtime_ns, size)),
    deterministic walk order. None when unstatable."""
    import hashlib
    import os as _os

    try:
        st = _os.stat(path)
        if not _os.path.isdir(path):
            return (1, f"{st.st_mtime_ns}:{st.st_size}")
        h = hashlib.sha1()
        n = 0
        for root, dirs, files in _os.walk(path):
            dirs.sort()
            for name in sorted(files):
                s = _os.stat(_os.path.join(root, name))
                rel = _os.path.relpath(_os.path.join(root, name), path)
                h.update(f"{rel}\x00{s.st_mtime_ns}\x00{s.st_size}\x00".encode())
                n += 1
        return (n, h.hexdigest())
    except OSError:
        return None


def _unpin(df: DataFrame) -> None:
    """Evict-path unpersist, guarded like `clear_session_pins` (r11
    ADVICE): a pin created under a since-stopped SparkContext cannot
    unpersist — that must not fail the CURRENT, unrelated pin call."""
    try:
        df.unpersist(False)
    except Exception:
        pass  # dead SparkContext — its blocks are already gone


def session_pin(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build,
    source: str = "documents.parquet",
) -> DataFrame:
    """Return the session-shared frame for (sf_dir, tag), building and
    persisting it on first use. `build()` may itself run jobs (the LSS
    star contraction does); a build that raises stores nothing, so the
    next call retries from scratch. FIFO eviction above the cap
    explicitly unpersists the evicted frame (lineage survives — any
    plan still referencing it recomputes, never errors).

    Staleness trade-off (r11 ADVICE, stated for the record): because
    persist KEEPS lineage, a pinned partition lost to executor failure
    recomputes by RE-READING the source path — if the source files
    were rewritten in place after pinning, the rebuilt partitions
    would silently mix new data into an exactness-contract frame,
    where the old localCheckpoint design failed loudly (job error).
    The fingerprint-in-key guards every LOOKUP (a rewritten source
    always misses and rebuilds fresh; superseded same-tag pins are
    evicted below, so the stale frame also stops occupying storage) —
    the residual window is a block loss DURING a job whose source
    changed mid-flight, which no cache policy can close without
    re-cutting lineage. We take lineage (never-fails-forever) over
    checkpoint (never-mixes-mid-job); testdata and production corpus
    snapshots are immutable-per-path, making the mid-job rewrite a
    non-event there."""
    import os as _os

    fp = source_fingerprint(_os.path.join(sf_dir, source))
    if fp is None:  # unstatable source: no safe cache key — don't pin
        return build()
    realdir = _os.path.realpath(sf_dir)
    key = (spark.sparkContext.applicationId, tag, realdir, fp)
    df = _SESSION_PINS.get(key)
    if df is not None:
        # self-heal pins whose storage was released behind the seam's
        # back (r13: the test harness's clear-and-restore, an external
        # unpersist) — serving one unpersisted is silently correct but
        # silently re-executes the whole mine per consumer branch, the
        # exact failure mode the pin exists to prevent. When the
        # accessed entry is stale, every same-app sibling almost
        # certainly is too (the release paths are app-wide), so the
        # WHOLE app's entries re-persist in insertion order — inner
        # (build-time) pins before the outer frames built on them, so
        # re-registered cache plans substitute their children's caches
        # again. persist() re-registers the same frames; lineage is
        # intact and nothing recomputes until next use.
        from pyspark import StorageLevel

        try:
            if df.storageLevel == StorageLevel.NONE:
                app = spark.sparkContext.applicationId
                for k, sib in _SESSION_PINS.items():
                    if k[0] == app and sib.storageLevel == StorageLevel.NONE:
                        sib.persist(StorageLevel.MEMORY_AND_DISK)
        except Exception:
            df = None  # dead context behind the entry — rebuild below
    if df is None:
        from pyspark import StorageLevel

        # drop superseded pins for the same (app, tag, sf_dir) whose
        # fingerprint no longer matches — the source was rewritten, so
        # those frames can never be looked up again; free their blocks
        # now instead of waiting for FIFO pressure (r11 ADVICE)
        for k in [k for k in _SESSION_PINS if k[:3] == key[:3] and k[3] != fp]:
            _unpin(_SESSION_PINS.pop(k))
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        while len(_SESSION_PINS) >= _SESSION_PIN_CAP:  # FIFO evict + free
            # hoist the evictee key ONCE (r12 ADVICE): evaluating
            # next(iter(...)) twice logs one key and pops another if
            # anything is ever inserted between the two calls
            k = next(iter(_SESSION_PINS))
            _EVICTIONS.append(k)
            del _EVICTIONS[:-_EVICTIONS_MAX]  # bounded log, newest kept
            _unpin(_SESSION_PINS.pop(k))
        _SESSION_PINS[key] = df
    return df


def clear_session_pins() -> None:
    """Release every session pin's storage (bench/gate hygiene hook)."""
    while _SESSION_PINS:
        _, df = _SESSION_PINS.popitem()
        try:
            df.unpersist(False)
        except Exception:
            pass  # a dead SparkContext can't unpersist — nothing to free


RANGE_PART_TARGET_BYTES = 256 * 1024 * 1024  # ~one healthy shuffle partition


def range_parts(sf_dir: str, table: str = "documents") -> int:
    """Scale-ADAPTIVE partition count for the two-phase range-exchange
    devices (guide §2: derive partitioning from input size, never a
    constant tuned for one deployment): ceil(source parquet bytes /
    256 MB), floor 2. At bench SFs the sources are a few MB, so the
    range exchange collapses to 2 partitions instead of one tiny task
    per core (the devices' ranks/offsets are partition-count-
    independent by construction, so the OUTPUT is identical — only
    the task count changes); at cluster scale the byte-derived count
    restores full parallelism at a healthy partition size.
    `SMDP_RANGE_PART_BYTES` overrides the target for deployments that
    want a different granularity. An unstatable source falls back to
    the old defaultParallelism-shaped floor (2)."""
    import os as _os

    target = (
        int(_os.environ.get("SMDP_RANGE_PART_BYTES") or 0)
        or RANGE_PART_TARGET_BYTES
    )
    path = _os.path.join(sf_dir, f"{table}.parquet")
    try:
        if _os.path.isdir(path):
            size = 0
            for root, _dirs, files in _os.walk(path):
                for name in files:
                    size += _os.stat(_os.path.join(root, name)).st_size
        else:
            size = _os.stat(path).st_size
    except OSError:
        size = 0
    return max(2, -(-size // target))


def literal_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny literal DataFrame built JVM-side — `F.explode` of a
    struct-array literal — instead of `spark.createDataFrame(list)`'s
    Python-RDD path (guide §4: that path pays an
    `applySchemaToPythonRDD` pickle round trip and an extra job PER
    INVOCATION, ~0.2-0.5 s of pure boundary overhead for a 5-row
    constant grid; r13 optimization pass). Values are embedded as
    literals and cast to the declared field types, so the resulting
    schema and bits are identical to the createDataFrame output.
    Supports the scalar types the engine's literal frames use
    (NULL-able); falls back to createDataFrame for empty row lists,
    where there is nothing to explode."""
    struct_t = (
        schema
        if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    if not rows:
        return spark.createDataFrame([], struct_t)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, struct_t.fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )


def ntz_as_utc_instant(col: str):
    """TIMESTAMP_NTZ -> TimestampType with the wall clock interpreted
    as UTC, independent of `spark.sql.session.timeZone` (see `load`)."""
    return F.expr(
        f"make_timestamp(year({col}), month({col}), day({col}), "
        f"hour({col}), minute({col}), "
        f"cast(extract(second from {col}) as decimal(16,6)), 'UTC')"
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
