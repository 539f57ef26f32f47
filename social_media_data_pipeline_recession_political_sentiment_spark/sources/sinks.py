"""Sink operators (SURVEY §2.1 `sink_insert`, `sink_create_table`,
`sink_batched_commit`).

The reference writes with one INSERT round-trip per row plus a
per-row existence probe (`Data Collection/Reddit.py:82-93`,
`chan4.py:104-114`, `Youtube_final.py:115-119`) and declares tables
with `CREATE TABLE IF NOT EXISTS` (`Reddit.py:151-162`,
`chan4.py:19-39`, `Youtube_final.py:87-101`,
`Data Analysis/Reddit_4chan_Analysis.py:65-77`). Its batched-commit
intent (`Reddit_4chan_Analysis.py:135-137`, commit every ~1000 rows —
broken in the reference: the counter never increments) maps to
file-size-targeted task commits here.

Engine shape: appends are partition-level parquet writes (vectorized,
task-committed — the only sane write path at 100 TB); DDL is
`CREATE TABLE IF NOT EXISTS` against the session catalog with an
explicit location; commit batching is `maxRecordsPerFile`, which
bounds the blast radius of a task retry exactly like a 1000-row
transaction batch bounds a rollback.

Each query writes under a fresh /tmp workdir and returns a read-back
DataFrame so the driver's oracle can check round-trip fidelity, not
just that a write happened.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_frame, load
from ..operators.relational import FINITE_CENTS_SQL
from ..registry import register
from ..session import fresh_workdir


# Parent of every sink query's per-call work dir; each fills its dir
# with full events/orders parquet copies.
_SINK_ROOT = "/tmp/smdp_sinks"


@register(
    "sink_insert",
    oracle=(
        "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')"
    ),
)
def sink_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode parquet writes replacing the reference's per-row
    INSERT loop (`Reddit.py:82-93`): two successive batch appends land
    as new files under the same sink dir (task-level commit, no
    read-modify-write), then the sink is read back. At scale each
    micro-batch/job appends its partitions independently — writers
    never coordinate row-by-row with the sink."""
    sink = os.path.join(fresh_workdir(_SINK_ROOT), "orders_sink")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for prio in ("1-URGENT", "2-HIGH"):  # two independent append batches
        o.filter(F.col("o_orderpriority") == prio).write.mode("append").parquet(sink)
    return spark.read.parquet(sink)


@register(
    "sink_create_table",
    oracle="SELECT r_regionkey AS region_key, r_name AS region_name FROM region",
)
def sink_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`CREATE TABLE IF NOT EXISTS` DDL against the session catalog
    (ref fixed DDL at `Reddit.py:151-162`; config-generated DDL at
    `Youtube_Analysis.py:65-82`). Issued twice to prove idempotence,
    then populated with INSERT OVERWRITE (deterministic on re-run,
    unlike append) and read back through the catalog."""
    loc = os.path.join(fresh_workdir(_SINK_ROOT), "region_tbl")
    name = "smdp_region_ddl"
    ddl = (
        f"CREATE TABLE IF NOT EXISTS {name} "
        "(region_key BIGINT, region_name STRING) "
        f"USING parquet LOCATION '{loc}'"
    )
    spark.sql(ddl)
    spark.sql(ddl)  # IF NOT EXISTS: second run is a no-op, like the ref
    load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("region_key"), F.col("r_name").alias("region_name")
    ).createOrReplaceTempView("smdp_region_src")
    spark.sql(f"INSERT OVERWRITE TABLE {name} SELECT * FROM smdp_region_src")
    return spark.table(name)


@register(
    "sink_batched_commit",
    oracle=(
        "SELECT count(*) AS n_rows, true AS files_ok, true AS cap_ok FROM events"
    ),
)
def sink_batched_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-every-N-rows intent (`Reddit_4chan_Analysis.py:
    135-137`; broken there — the counter never increments) as the
    engine's `maxRecordsPerFile`: each landed file is a completed
    ≤5000-row commit unit, so a failed task re-lands only its own
    files. Writers stay PARALLEL — every task splits its own partition
    into commit units independently, no single-writer funnel — so the
    exact file count is per-task, not global. The checked contract is
    therefore the per-task semantics: rows conserved, at least
    ceil(rows/5000) files landed, and no file exceeding the commit
    unit (per-file row counts read back via the `_metadata.file_path`
    scan column, itself a distributed aggregation)."""
    sink = os.path.join(fresh_workdir(_SINK_ROOT), "events_sink")
    e = load(spark, sf_dir, "events")
    e.write.option("maxRecordsPerFile", 5000).parquet(sink)
    per_file = (
        spark.read.parquet(sink)
        .groupBy(F.col("_metadata.file_path").alias("f"))
        .agg(F.count("*").alias("rows"))
        .agg(
            F.count("*").alias("n_files"),
            F.sum("rows").alias("n_rows"),
            F.max("rows").alias("max_file_rows"),
        )
    )
    return per_file.select(
        "n_rows",
        (F.col("n_files") >= F.ceil(F.col("n_rows") / 5000.0)).alias("files_ok"),
        (F.col("max_file_rows") <= 5000).alias("cap_ok"),
    )


@register(
    "scan_schema_evolution",
    oracle=(
        "SELECT event_type, count(*) AS n_rows, "
        "count(CASE WHEN event_id % 2 = 0 THEN value END) AS n_valued "
        "FROM events GROUP BY event_type"
    ),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a sink whose early files lack a column
    the later files carry — the normal state of any long-lived 100 TB
    table (columns get added; history is never rewritten). Odd
    event_ids land first WITHOUT `value` (the v1 schema), even ids
    after WITH it; `mergeSchema=true` reconciles by name at read time
    and v1 rows surface `value` as NULL — which the aggregate makes
    observable (n_valued counts only evolved rows). Merge cost is
    footer-only at planning; the data path still reads each file with
    its own schema, so evolution costs nothing per row."""
    sink = os.path.join(fresh_workdir(_SINK_ROOT), "events_evolving")
    e = load(spark, sf_dir, "events")
    # v1 files: the column doesn't exist yet
    e.filter(F.col("event_id") % 2 == 1).select("event_id", "ts", "event_type").write.mode(
        "append"
    ).parquet(sink)
    # v2 files: schema grew a column
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "ts", "event_type", "value"
    ).write.mode("append").parquet(sink)
    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_valued"),
    )


@register(
    "sink_compact_small_files",
    oracle=(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(ceil(count(*) / 500.0) AS BIGINT) AS small_files, "
        "CAST(ceil(count(*) / 5000.0) AS BIGINT) AS compacted_files, "
        "true AS rows_ok FROM events"
    ),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every long-lived
    table needs (the lakehouse OPTIMIZE/rewriteDataFiles): a drip-feed
    ingest lands ceil(n/500) tiny files (simulated with a single
    sequential writer + maxRecordsPerFile, so the fixture layout is
    deterministic); the compactor then bin-packs them into
    ceil(n/5000) right-sized files via round-robin repartition —
    every writer task emits exactly one file, none empty. The checked
    contract: rows conserved through the rewrite and both file
    populations exactly at their predicted counts (file counts read
    back via the distributed `_metadata.file_path` scan, the
    `sink_batched_commit` device).

    Scale notes: the driver-side count() is the planner step — real
    compactors read table statistics to size the fan-in (bytes, not
    rows) exactly like this; the rewrite itself is one round-robin
    shuffle of only the affected files. At 100 TB compaction runs
    per partition directory (each date/source dir compacts
    independently, `maintenance_vacuum`'s unit), never as one global
    job — this operator is that per-directory unit."""
    work = fresh_workdir(_SINK_ROOT)
    small = os.path.join(work, "events_small")
    comp = os.path.join(work, "events_compacted")
    e = load(spark, sf_dir, "events")
    e.coalesce(1).write.option("maxRecordsPerFile", 500).parquet(small)
    sm = spark.read.parquet(small)
    n = sm.count()  # planner statistic (see docstring)
    target = max(1, -(-n // 5000))
    sm.repartition(target).write.parquet(comp)
    cp = spark.read.parquet(comp)
    s_stats = sm.agg(
        F.countDistinct(F.col("_metadata.file_path")).alias("small_files"),
        F.count("*").alias("n_small"),
    )
    c_stats = cp.agg(
        F.countDistinct(F.col("_metadata.file_path")).alias("compacted_files"),
        F.count("*").alias("n_rows"),
    )
    return s_stats.crossJoin(c_stats).select(
        "n_rows",
        "small_files",
        "compacted_files",
        (F.col("n_small") == F.col("n_rows")).alias("rows_ok"),
    )


@register(
    "sink_codec_roundtrip",
    oracle=(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS zstd_ok, "
        "true AS snappy_ok, CAST(sum(event_id) AS BIGINT) AS id_checksum "
        "FROM events"
    ),
)
def sink_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec round-trip: the same table written as zstd
    and as snappy parquet, both read back with row counts, an
    id-sum checksum, and proof (via `_metadata.file_path` suffixes)
    that each sink really landed in its codec. Codec choice is a
    first-order cost lever at 100 TB — zstd typically buys ~30-50%
    over snappy on text-heavy tables for modest CPU — and the
    round-trip contract is what lets a fleet flip the default
    safely: content equality is checked by the engine, not assumed.

    Scale shape: two append-style writes + two scans, all
    embarrassingly parallel; the checksum is an algebraic sum with
    map-side combine. Codec verification reads file PATHS from scan
    metadata — no footer parsing, no driver filesystem walk."""
    work = fresh_workdir(_SINK_ROOT)
    e = load(spark, sf_dir, "events")
    outs = {}
    for codec in ("zstd", "snappy"):
        path = os.path.join(work, f"events_{codec}")
        e.write.option("compression", codec).parquet(path)
        df = spark.read.parquet(path)
        outs[codec] = df.agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("cs"),
            F.min(F.col("_metadata.file_path").endswith(f".{codec}.parquet")).alias(
                "codec_ok"
            ),
        )
    z, s = outs["zstd"], outs["snappy"]
    z = z.select(
        F.col("n").alias("zn"), F.col("cs").alias("zcs"), F.col("codec_ok").alias("zok")
    )
    s = s.select(
        F.col("n").alias("sn"), F.col("cs").alias("scs"), F.col("codec_ok").alias("sok")
    )
    return z.crossJoin(s).select(
        F.col("zn").alias("n_rows"),
        (F.col("zok") & (F.col("zn") == F.col("sn")) & (F.col("zcs") == F.col("scs"))).alias(
            "zstd_ok"
        ),
        F.col("sok").alias("snappy_ok"),
        F.col("zcs").alias("id_checksum"),
    )


_SCD1_ORACLE = """
WITH base AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
              FROM customer WHERE c_custkey % 7 != 0),
upd AS (SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
               'UPDATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0)
SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
       coalesce(u.c_name, b.c_name) AS c_name,
       coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal,
       coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
       CASE WHEN u.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL
              THEN 'update'
            WHEN u.c_custkey IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM base b FULL OUTER JOIN upd u ON u.c_custkey = b.c_custkey
"""


@register("sink_scd1_merge", oracle=_SCD1_ORACLE)
def sink_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE / SCD-type-1 upsert: an update batch overwrites
    matching dimension rows in place and appends unmatched keys —
    the lakehouse `MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT`, expressed as a full-outer join with
    updates-win coalesce (how engines without a native MERGE — and
    Spark itself before Delta — execute it). Complements
    `join_scd2_dim` (history-keeping type 2) and
    `stream_upsert_keyed` (the streaming form): this is
    the batch nightly-dimension-refresh shape. Presence is derived
    from the non-null JOIN KEYS themselves (never from a nullable
    payload column — `ext_dataset_diff`'s fixed contract), and the
    emitted `action` column is the merge audit a production job
    writes to its run log.

    Scale shape: ONE key-partitioned full-outer shuffle join (at
    100 TB both sides hash-partition on the dimension key; with a
    bucketed base table the base side is exchange-free, the
    `ext_dedup_incremental_bucketed` layout), then a blind
    partition-level parquet rewrite of affected partitions. The
    write+read-back proves round-trip fidelity through the sink."""
    c = load(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    b, u = base.alias("b"), upd.alias("u")
    merged = b.join(
        u, F.col("u.c_custkey") == F.col("b.c_custkey"), "full_outer"
    ).select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_name"), F.col("b.c_name")).alias("c_name"),
        F.coalesce(F.col("u.c_acctbal"), F.col("b.c_acctbal")).alias("c_acctbal"),
        F.coalesce(F.col("u.c_mktsegment"), F.col("b.c_mktsegment")).alias(
            "c_mktsegment"
        ),
        F.when(
            F.col("u.c_custkey").isNotNull() & F.col("b.c_custkey").isNotNull(),
            F.lit("update"),
        )
        .when(F.col("u.c_custkey").isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )
    out = os.path.join(fresh_workdir(_SINK_ROOT), "customer_merged")
    merged.write.parquet(out)
    return spark.read.parquet(out)


# ----------------------------------------------- sorted-run layout

SORTED_RUNS_K = 8


def _runs_boundary_exprs(elem: str) -> list[tuple[str, str]]:
    """The K-1 run boundaries as (alias, expression) pairs, each ONE
    shared interpolation tree (`_pq_sql` from operators/relational.py)
    evaluated over the sorted key array — NOT Spark `percentile` vs
    DuckDB `quantile_cont`, whose interpolation formulas differ in
    ulps; a 1-ulp boundary drift straddling a data value would flip
    that row's run and diverge the manifest (the r6 rank-band-sketch
    finding, applied here). BOTH engines consume this one generator
    (oracle via `list_extract`, operator via `element_at`) so the
    q-grid and boundary count can never drift apart."""
    from ..operators.relational import _pq_sql

    return [
        (f"b{i}", _pq_sql(i / SORTED_RUNS_K, elem))
        for i in range(1, SORTED_RUNS_K)
    ]


# NULL-key pin (the stream_sliding_count / CUSUM convention): rows
# with NULL o_totalprice are excluded EXPLICITLY on both engines —
# Spark's collect_list drops NULLs while DuckDB's list() keeps them
# (sorted last), so without the pin a NULL key would desync the
# sorted array from count(*) (an ANSI INVALID_ARRAY_INDEX crash on
# the Spark side) and NULL out the upper boundaries on the DuckDB
# side. Current testdata has no NULL prices; the contract must not
# depend on that.
_SORTED_RUNS_ORACLE = f"""
WITH nn AS (SELECT o_totalprice FROM orders WHERE o_totalprice IS NOT NULL),
s AS (SELECT list(o_totalprice ORDER BY o_totalprice) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM nn),
b AS (SELECT {", ".join(f"{sql} AS {alias}"
                        for alias, sql in _runs_boundary_exprs("list_extract"))}
      FROM s),
a AS (SELECT o_totalprice,
             {" + ".join(f"(CASE WHEN o_totalprice > b.b{i} THEN 1 ELSE 0 END)"
                         for i in range(1, SORTED_RUNS_K))} AS run
      FROM nn, b)
SELECT CAST(run AS BIGINT) AS run,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(o_totalprice) AS min_key,
       max(o_totalprice) AS max_key
FROM a GROUP BY 1
"""


@register("sink_sorted_runs", oracle=_SORTED_RUNS_ORACLE)
def sink_sorted_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned sorted-run layout: rows are bucketed into K
    runs by EXACT quantile boundaries of the sort key, written
    `partitionBy(run)` with `sortWithinPartitions`, and read back as
    a per-run manifest (count, min, max). Disjoint key ranges per
    run are what make downstream zone-map pruning and merge joins
    work: a reader scanning key range [a, b] opens only the runs
    whose [min, max] intersects it, and a sort-merge consumer
    streams runs in order with no re-sort. The write-side complement
    of `sink_partitioned_prune` (which prunes on a categorical
    column); boundary ties go LOW (strict > comparisons), so runs
    are provably disjoint.

    Deliberate non-use of `repartitionByRange`: Spark's range
    partitioner derives boundaries from reservoir SAMPLING — fast,
    but not reproducible cross-engine. Exact quantile boundaries
    cost one extra pass and make the layout an auditable CONTRACT
    (the oracle recomputes it bit-for-bit through the SAME `_pq_sql`
    interpolation tree over the sorted key array — native
    `percentile` vs `quantile_cont` differ in ulps); at 100 TB swap in `percentile_approx`
    boundaries and keep the same audit with rank-error bounds
    (`agg_quantile_sketch_audit`).

    Scale shape: one boundary agg ((K-1) doubles broadcast; the
    sorted-array device buffers all keys on one row exactly like
    exact `percentile`'s internal buffer — the approx sketch is the
    scale path either way), one scan-local run assignment, one
    partitioned write whose files are the runs, one manifest agg
    over the read-back. The manifest is K rows; nothing global ever
    sorts."""
    o = (
        load(spark, sf_dir, "orders")
        .select("o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())  # NULL-key pin, both engines
    )
    b = o.agg(
        F.array_sort(F.collect_list("o_totalprice")).alias("arr"),
        F.count("*").cast("long").alias("n"),
    ).select(
        *[
            F.expr(sql).alias(alias)
            for alias, sql in _runs_boundary_exprs("element_at")
        ]
    )
    run_expr = None
    for i in range(1, SORTED_RUNS_K):
        term = F.when(F.col("o_totalprice") > F.col(f"b{i}"), 1).otherwise(0)
        run_expr = term if run_expr is None else run_expr + term
    assigned = o.crossJoin(F.broadcast(b)).select(
        "o_totalprice", run_expr.cast("long").alias("run")
    )
    sink = os.path.join(fresh_workdir(_SINK_ROOT), "runs")
    (
        assigned.repartition("run")
        .sortWithinPartitions("run", "o_totalprice")
        .write.partitionBy("run")
        .mode("overwrite")
        .parquet(sink)
    )
    # explicit read-back schema: an EMPTY orders table writes no data
    # files and no partition dirs — schema inference over the bare
    # _SUCCESS marker is UNABLE_TO_INFER_SCHEMA; the write-side frame
    # knows the schema, partition column included
    back = spark.read.schema(assigned.schema).parquet(sink)
    return back.groupBy(F.col("run").cast("long").alias("run")).agg(
        F.count("*").alias("n_rows"),
        F.min("o_totalprice").alias("min_key"),
        F.max("o_totalprice").alias("max_key"),
    )


# -------------------------------------- manifest snapshot reads


_SNAPSHOT_ORACLE = """
SELECT CAST(1 AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
FROM orders
"""


@register("sink_snapshot_read", oracle=_SNAPSHOT_ORACLE)
def sink_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshot isolation ("time travel" in
    Delta/Iceberg terms, reduced to its load-bearing core): every
    commit appends immutable parquet files AND a manifest row
    listing exactly which files belong to that version; a reader
    resolves its version's manifest and scans ONLY those files —
    never the directory listing, which keeps concurrent appends
    invisible until their manifest lands. Version 1 here is the base
    commit, version 2 adds the delta files; reading BOTH versions
    from the same sink directory and getting different exact
    (count, sum) pairs is the proof of snapshot semantics.

    Exactness: totals are per-row cent-rounded BIGINTs summed as
    integers (partition-order-free — the fixed-point device), so
    both snapshots hash exactly.

    Scale shape: manifests are tiny (one row per file), reads are
    plain parquet scans of the manifest's file list — partition
    pruning and column pruning apply unchanged; a commit is one
    atomic manifest append, never a rewrite of data files. This is
    the table-format pattern `sink_batched_commit` (task-level
    atomicity) composes into at the multi-commit level."""
    wd = fresh_workdir(_SINK_ROOT)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base_path = os.path.join(wd, "base")
    delta_path = os.path.join(wd, "delta")
    o.filter(F.col("o_orderkey") % 3 != 0).write.parquet(base_path)
    o.filter(F.col("o_orderkey") % 3 == 0).write.parquet(delta_path)
    manifest = {1: [base_path], 2: [base_path, delta_path]}
    parts = []
    for version, paths in manifest.items():
        snap = spark.read.parquet(*paths)
        parts.append(
            snap.agg(
                F.lit(version).cast("long").alias("version"),
                F.count("*").alias("n_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("total_cents"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ------------------------------------ dynamic partition overwrite


_DYN_OVERWRITE_ORACLE = f"""
WITH e AS (SELECT event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_num,
                  {FINITE_CENTS_SQL} AS cents
           FROM events),
d0 AS (SELECT min(day_num) AS d0 FROM e),
adj AS (SELECT day_num,
               CASE WHEN day_num = d0.d0 THEN cents * 2 ELSE cents END AS cents
        FROM e, d0)
SELECT day_num, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM adj GROUP BY 1
"""


@register("sink_dynamic_overwrite", oracle=_DYN_OVERWRITE_ORACLE)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: a day-partitioned sink receives a
    FULL history write, then a correction batch for ONE day (the
    earliest — a backfill reprocessing that doubles its amounts)
    written with `partitionOverwriteMode=dynamic` — which replaces
    ONLY the partitions present in the incoming batch and leaves
    every other day's files untouched. This is THE nightly-restate
    pattern at 100 TB: static overwrite mode would wipe the whole
    table for a one-day fix; row-level merge (`sink_scd1_merge`)
    pays a join — partition overwrite pays only the restated day's
    write. The read-back per-day totals prove both halves: the
    corrected day carries doubled cents, all other days carry their
    original exact totals.

    Exactness: integer epoch-day partitions and cent-rounded BIGINT
    sums (partition-order-free); the session's overwrite mode is set
    for the write and restored after.

    Scale shape: writes are partition-granular (the correction
    touches one directory); the audit is one day-keyed agg over the
    read-back."""
    wd = fresh_workdir(_SINK_ROOT)
    sink = os.path.join(wd, "events_by_day")
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(ts AS LONG) div 86400").alias("day_num"),
        # finite-value pin (shared device)
        F.expr(FINITE_CENTS_SQL).alias("cents"),
    )
    e.write.partitionBy("day_num").mode("overwrite").parquet(sink)
    d0 = e.agg(F.min("day_num").alias("d0"))
    correction = (
        e.crossJoin(F.broadcast(d0))
        .filter(F.col("day_num") == F.col("d0"))
        .select("event_id", "day_num", (F.col("cents") * 2).alias("cents"))
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        correction.write.partitionBy("day_num").mode("overwrite").parquet(sink)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    # explicit read-back schema: an EMPTY source writes no data files
    # and no partition dirs, and schema inference over a bare
    # _SUCCESS marker is UNABLE_TO_INFER_SCHEMA — the write-side frame
    # already knows the schema
    back = spark.read.schema(e.schema).parquet(sink)
    return back.groupBy(F.col("day_num").cast("long").alias("day_num")).agg(
        F.count("*").alias("n_rows"), F.sum("cents").alias("total_cents")
    )


_DRIFT_COLS = ("event_id", "ts", "event_type", "value")

_DRIFT_ORACLE = """
WITH c AS (SELECT CASE WHEN coalesce(event_id % 2, 0) = 1
                       THEN 1 ELSE 2 END AS schema_v,
                  event_id, ts, event_type, value FROM events),
a AS (SELECT schema_v,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(event_id) AS BIGINT) AS nn_event_id,
             CAST(count(ts) AS BIGINT) AS nn_ts,
             CAST(count(event_type) AS BIGINT) AS nn_event_type,
             CAST(count(CASE WHEN schema_v = 2 THEN value END) AS BIGINT)
               AS nn_value
      FROM c GROUP BY schema_v),
spine AS (SELECT v.schema_v, col.col_name
          FROM (VALUES (CAST(1 AS INT)), (CAST(2 AS INT))) v(schema_v)
          CROSS JOIN (VALUES ('event_id'), ('ts'), ('event_type'),
                             ('value')) col(col_name))
SELECT s.schema_v, s.col_name,
       coalesce(a.n_rows, 0) > 0
         AND (s.col_name <> 'value' OR s.schema_v = 2) AS present,
       CAST(coalesce(a.n_rows, 0) AS BIGINT) AS n_rows,
       CAST(coalesce(CASE s.col_name
                     WHEN 'event_id' THEN a.nn_event_id
                     WHEN 'ts' THEN a.nn_ts
                     WHEN 'event_type' THEN a.nn_event_type
                     ELSE a.nn_value END, 0) AS BIGINT) AS n_nonnull
FROM spine s LEFT JOIN a ON a.schema_v = s.schema_v
"""


@register("scan_schema_drift_audit", oracle=_DRIFT_ORACLE)
def scan_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-DRIFT audit over an evolving sink — the report a table
    owner reads before trusting a merged scan (`scan_schema_evolution`
    proves the merged read WORKS; this audits WHAT drifted). Events
    land in two schema cohorts under partition dirs
    `schema_v=1` (no `value` column — odd event_ids, NULL/absent keys
    folded to cohort 2 on both engines via coalesce(id % 2, 0)) and
    `schema_v=2` (with it). The audit emits one row per
    (cohort, column): whether the column is PHYSICALLY present in the
    cohort's data files (read from parquet FOOTERS, the metadata-only
    path a real lakehouse drift scanner uses — an empty cohort has no
    files, so nothing is 'present'), the cohort's row count, and the
    non-null count the MERGED read observes (absent columns surface
    as NULL — so `value` reads 0 non-null in cohort 1, the drift made
    observable).

    Scale shape: footer presence is O(#files) driver-side metadata
    (one schema read per cohort — all files in a cohort share a
    writer schema); the counts are one groupBy over the merged scan
    with per-column count() partials, then a 4-way `stack` to long
    form joined to the tiny broadcast presence spine. The merged
    read resolves by name per file (footer-only planning cost, the
    `scan_schema_evolution` note). Read-back robustness: the count
    scan passes an EXPLICIT unified schema, so a zero-row cohort —
    or a fully empty events table, where parquet leaves
    _SUCCESS-only dirs — still reads (no UNABLE_TO_INFER_SCHEMA),
    while presence still comes from real footers."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import types as T

    sink = os.path.join(fresh_workdir(_SINK_ROOT), "events_drift")
    e = load(spark, sf_dir, "events")
    parity = F.coalesce(F.col("event_id") % 2, F.lit(0))
    e.filter(parity == 1).select("event_id", "ts", "event_type").write.mode(
        "append"
    ).parquet(os.path.join(sink, "schema_v=1"))
    e.filter(parity == 0).select(
        "event_id", "ts", "event_type", "value"
    ).write.mode("append").parquet(os.path.join(sink, "schema_v=2"))

    # footer-level presence: which columns exist in each cohort's files
    present_rows = []
    for v in (1, 2):
        files = sorted(
            _glob.glob(os.path.join(sink, f"schema_v={v}", "part-*.parquet"))
        )
        cols = set(_pq.read_schema(files[0]).names) if files else set()
        for c in _DRIFT_COLS:
            present_rows.append((v, c, c in cols))
    presence = literal_frame(
        spark,
        present_rows,
        T.StructType(
            [
                T.StructField("schema_v", T.IntegerType(), False),
                T.StructField("col_name", T.StringType(), False),
                T.StructField("present", T.BooleanType(), False),
            ]
        ),
    )

    # merged read with the EXPLICIT unified schema (by-name per-file
    # resolution fills absent columns with NULL; survives empty dirs)
    merged_schema = T.StructType(
        [f for f in e.schema.fields if f.name in _DRIFT_COLS]
        + [T.StructField("schema_v", T.IntegerType(), True)]
    )
    merged = (
        spark.read.schema(merged_schema)
        .option("basePath", sink)
        .parquet(sink)
    )
    counts = merged.groupBy("schema_v").agg(
        F.count("*").alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in _DRIFT_COLS],
    )
    counts_long = counts.selectExpr(
        "schema_v",
        "n_rows",
        "stack(4, "
        + ", ".join(f"'{c}', nn_{c}" for c in _DRIFT_COLS)
        + ") AS (col_name, n_nonnull)",
    )
    return presence.join(
        counts_long, ["schema_v", "col_name"], "left"
    ).select(
        "schema_v",
        "col_name",
        "present",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.col("n_nonnull"), F.lit(0))
        .cast("long")
        .alias("n_nonnull"),
    )


# ----------------------------------- zone-map prune-effectiveness

PRUNE_RUNS_K = 8

_MINMAX_PRUNE_ORACLE = f"""
WITH s AS (SELECT epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
b AS (SELECT min(us) AS gmin, max(us) AS gmax FROM s),
a AS (SELECT ((us - gmin) * {PRUNE_RUNS_K}) // (gmax - gmin + 1) AS run,
             us, gmin, gmax
      FROM s, b)
SELECT CAST(run AS BIGINT) AS run,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(us) AS min_us,
       max(us) AS max_us,
       (max(us) < min(gmin) + (min(gmax) - min(gmin)) // 4
        OR min(us) > min(gmin) + (min(gmax) - min(gmin)) // 2)
         AS prunable
FROM a GROUP BY 1
"""


@register("sink_minmax_prune_audit", oracle=_MINMAX_PRUNE_ORACLE)
def sink_minmax_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file-skipping) effectiveness audit: events are laid
    out into {PRUNE_RUNS_K} time-range runs (exact value-range
    assignment — integer microsecond arithmetic, reproducible
    cross-engine where repartitionByRange's reservoir sampling is
    not), written as one parquet file per run, and the per-file
    min/max statistics are read back FROM THE PARQUET FOOTERS
    (metadata-only, O(#files)) to answer the question zone maps
    exist for: for a probe window over the 25th-50th percentile of
    the time span, which files does a stats-aware reader skip? The
    read-side complement of `sink_sorted_runs` (which certifies the
    layout) and `sink_partitioned_prune` (directory-level pruning):
    this certifies that the WRITTEN STATISTICS equal the data
    extrema — parquet INT64 stats are exact, so a mismatch means a
    broken writer. NULL-ts rows are excluded by stated contract (a
    row without a timestamp has no place in a time-range run).

    Two-pass shape (stats pass + apply pass): pass 1 aggregates
    global (min, max) — two scalars collected driver-side; pass 2
    assigns runs scan-locally and shuffles once on run for the
    partitioned write. The footer read is driver-side pyarrow over
    {PRUNE_RUNS_K} files — metadata-scale by construction (#files,
    never rows; the same device as `scan_schema_drift_audit`'s
    presence spine). At 100 TB the run count grows with the data
    but the audit stays #files-bounded.

    Overflow bound: (us − gmin) · {PRUNE_RUNS_K} ≤ span · 8; even
    the ±180-year extreme fixture spans ~1.1e16 µs → ~9e16, inside
    BIGINT. DuckDB's integer `//` and Spark's `div` both truncate
    toward zero, so they agree on any sign; here the run arithmetic
    is nonnegative anyway."""
    import glob as _glob

    import pyarrow.parquet as _pq

    e = (
        load(spark, sf_dir, "events")
        .where("ts IS NOT NULL")
        .select(F.unix_micros("ts").alias("us"))
    )
    out_schema = (
        "run long, n_rows long, min_us long, max_us long, prunable boolean"
    )
    bounds = e.agg(
        F.min("us").alias("gmin"), F.max("us").alias("gmax")
    ).collect()[0]
    if bounds.gmin is None:
        return spark.createDataFrame([], out_schema)
    gmin, gmax = bounds.gmin, bounds.gmax
    span1 = gmax - gmin + 1
    assigned = e.select(
        F.expr(f"CAST(((us - {gmin}L) * {PRUNE_RUNS_K}) div {span1}L "
               "AS BIGINT)").alias("run"),
        "us",
    )
    sink = os.path.join(fresh_workdir(_SINK_ROOT), "runs")
    (
        assigned.repartition("run")
        .sortWithinPartitions("run", "us")
        .write.partitionBy("run")
        .mode("overwrite")
        .parquet(sink)
    )
    lo = gmin + (gmax - gmin) // 4
    hi = gmin + (gmax - gmin) // 2
    rows = []
    for path in sorted(_glob.glob(f"{sink}/run=*/*.parquet")):
        run = int(path.split("run=")[1].split("/")[0])
        md = _pq.ParquetFile(path).metadata
        mn = mx = None
        n = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            n += rg.num_rows
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema != "us":
                    continue
                st = col.statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        rows.append((run, n, mn, mx, mx < lo or mn > hi))
    return literal_frame(spark, rows, out_schema)
