"""Structured Streaming queries (SURVEY §2.9), registered in the
driver contract. Each runs a REAL streaming query (file source →
watermark → stateful op → memory sink, drained with availableNow)
whose final result equals a batch query — so even the streaming tier
is oracle-checked against DuckDB.

Reference mapping:
- the collectors are `schedule`-loop pollers with idempotent inserts
  (`Data Collection/Reddit.py:166-173`, `chan4.py:125-128`,
  `Youtube_final.py:141-144`); Structured Streaming's micro-batch
  trigger is the same execution model with state handled by the
  engine instead of the existence-probe.
- `availableNow` is the Airflow-DAG batch run (`Airflow.py:10`).

Scale notes: streaming dedup state is bounded by the watermark
(the reference's probe table grows forever); tumbling counts use
partial aggregation per micro-batch. Every fold keeps its state in
the engine, never in Python: a keyed fold (upsert, datacard) is a
native streaming aggregation drained in complete mode, whose state
store commits with the offsets; a fold that needs every row at drain
(the incremental dedup chains) lands the stream once through a
checkpointed parquet sink and aggregates the landed rows. Per-batch
work is proportional to the batch, not to the state. The
multi-batch behaviors (late-row drop, cross-batch dedup, resuming a
fold from its checkpoint) that can't be shown in a single drained
batch are exercised in tests/test_streaming.py.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import load, ntz_as_utc_instant, staged
from ..functions.hashing import doc_bucket_sql
from ..operators.dedup import INCR_BASE_BUCKETS
from ..registry import register
from ..session import fresh_workdir, scoped_shuffle_partitions

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # placeholder; see stream_events
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _staged_table_dir(sf_dir: str, table: str) -> str:
    """The file source requires a *directory*; stage a table's
    parquet into /tmp via symlink (testdata is read-only). ONE
    staging device for every streamed table — the dangling-link
    repair below must not fork per table."""
    stage = os.path.join(
        "/tmp/smdp_stream", hashlib.sha1(sf_dir.encode()).hexdigest()[:10], table
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    # exists() follows symlinks: a link left dangling by a testdata
    # regeneration would crash the eager ts-type probe below, so
    # re-create it when the target is gone
    if os.path.lexists(link) and not os.path.exists(link):
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{table}.parquet", link)
    return stage


def _staged_events_dir(sf_dir: str) -> str:
    return _staged_table_dir(sf_dir, "events")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (the landed-payload
    bronze dir of SURVEY §3.1's collector mapping).

    The ts encoding has varied across driver testdata generations
    (TIMESTAMP(NANOS)-as-long, plain timestamp[us] read as NTZ or —
    with the engine conf — as TimestampType), so instead of
    hardcoding one encoding in the stream schema, a one-file batch
    read probes what this data actually decodes to under the current
    session confs, and the stream declares that type and applies the
    matching normalization — the same choke-point contract as
    catalog.load."""
    staged = _staged_events_dir(sf_dir)
    probed = spark.read.parquet(staged).schema["ts"].dataType
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", probed)
            for f in EVENTS_STREAM_SCHEMA.fields
        ]
    )
    raw = spark.readStream.schema(schema).format("parquet").load(staged)
    if isinstance(probed, T.LongType):  # legacy nanos-as-long encoding
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(probed, T.TimestampNTZType):
        # session-tz-independent wall-clock-as-UTC bridge (catalog.load)
        return raw.withColumn("ts", ntz_as_utc_instant("ts"))
    return raw


# State-store partitions of every stream this module drains: the
# count binds at query start and AQE cannot coalesce stateful stages,
# so a small drained stream would otherwise pay `cores` tiny state
# tasks per micro-batch. At sf0.1 on 4 cores the nine memory-sink
# drains took 12.1 s in total at 2 and 12.6 s at 8 (sum of warm
# medians). A cluster deployment sizes it to key cardinality.
STATE_PARTITIONS = 2

# Parent of the per-call work dirs (landed rows, checkpoints, written
# fixtures).
_WORK_ROOT = "/tmp/smdp_landing"


def _run_available_now(writer: DataStreamWriter, spark: SparkSession) -> StreamingQuery:
    """Start `writer` with the availableNow trigger (the DAG-style
    batch run) and wait until it has drained every landed file."""
    with scoped_shuffle_partitions(spark, STATE_PARTITIONS):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def drain_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run the streaming query to completion into a memory sink and
    return the sink table. An empty source drains to an empty table
    with the stream's schema. The sink's temp view is dropped once
    drained: the returned frame holds the analyzed sink plan, so it
    still reads the rows, and they are freed with the frame instead of
    living in the session catalog."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:8]}"
    _run_available_now(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        spark,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def land_parquet(stream_df: DataFrame) -> tuple[DataFrame, list]:
    """Run the streaming query to completion into a checkpointed
    parquet sink (append mode) under a fresh work dir. Returns the
    landed rows, read back with the stream's schema, and the finished
    query's `recentProgress`. The file sink commits each micro-batch's
    files with its offsets, so the landed rows are exactly the
    stream's rows, once each; an empty source lands an empty frame."""
    spark = stream_df.sparkSession
    work = fresh_workdir(_WORK_ROOT)
    out = os.path.join(work, "out")
    q = _run_available_now(
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", os.path.join(work, "ckpt")),
        spark,
    )
    return spark.read.schema(stream_df.schema).parquet(out), q.recentProgress


@register(
    "stream_tumbling_count",
    # ts IS NOT NULL: Spark's streaming window() drops NULL event
    # times implicitly; the oracle must state the same universe (r8
    # NULL sweep — the stream_sliding_count pin convention)
    oracle=(
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt "
        "FROM events WHERE ts IS NOT NULL GROUP BY day"
    ),
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window count as a continuous query (ref:
    `app.py:44-59` — the manual daily loop; SURVEY §2.9
    `stream_tumbling_count`). watermark + window('1 day') + count,
    complete mode; the drained result equals the batch daily counts."""
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    out = drain_to_table(agg, "complete")
    return out.select(F.to_date(F.col("w.start")).alias("day"), "cnt")


@register(
    "stream_dedup",
    # sane-ts gate matches the Spark side (r9 watermark-poisoning pin)
    oracle=(
        "SELECT count(DISTINCT event_id) AS n_unique FROM events "
        "WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00' "
        "AND ts < TIMESTAMP '2100-01-01 00:00:00'"
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked cross-batch dedup (ref: the per-row existence probe
    `Reddit.py:75-80`, `Youtube_final.py:109-114`; SURVEY §2.9
    `stream_dedup`). dropDuplicates state is bounded by the watermark
    — the scalable replacement for an ever-growing probe table. The
    drained row count equals COUNT(DISTINCT key)."""
    from ..operators.relational import SANE_TS_SQL

    # sane event-time gate (r9 nonfinite sweep): one 2260-09-xx glitch
    # stamp fast-forwards the watermark 200+ years and every honest
    # row in later micro-batches reads as late and is silently
    # DROPPED — the textbook watermark-poisoning failure. Stamps
    # outside the plausible-operations window are gated at ingest on
    # both engines.
    dedup = (
        stream_events(spark, sf_dir)
        .where(SANE_TS_SQL)
        .withWatermark("ts", "12 hours")
        .dropDuplicates(["event_id"])
    )
    out = drain_to_table(dedup, "append")
    return out.agg(F.count("*").alias("n_unique"))


@register(
    "stream_lookback_window",
    oracle=(
        "SELECT event_type, count(*) AS cnt FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' GROUP BY event_type"
    ),
)
def stream_lookback_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-window ingest filter (ref: `chan4.py:77,93` 3-min
    window, `Youtube_final.py:45-46,58-61` 12-h lookback — the crude
    late-data policy). In streaming this is watermark + event-time
    predicate; late-row *dropping* across batches is asserted in
    tests/test_streaming.py (needs multiple micro-batches)."""
    filtered = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .filter(F.col("ts") >= F.lit("2024-01-29 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = drain_to_table(filtered, "complete")
    return out


def _staged_split_events(spark: SparkSession, sf_dir: str, n_splits: int = 2) -> str:
    """Events staged as n_splits parquet files, so a
    maxFilesPerTrigger=1 file source replays them as n_splits distinct
    micro-batches. Kept by `catalog.staged`: a table rewritten at the
    same path is restaged, never served from a stale split."""
    return staged(
        sf_dir,
        "events.parquet",
        f"events_split{n_splits}",
        lambda path: load(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .repartition(n_splits, "event_id")
        .write.mode("overwrite")
        .parquet(path),
    )


@register(
    "stream_stateful_count",
    oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running event counter whose keyed state persists across
    micro-batches — the engine form of any hand-rolled accumulator the
    reference would keep in process memory (its memo cache,
    `Youtube_final.py:9,13-14`) but fault-tolerant and partitioned by
    key. The source replays events as two real micro-batches
    (maxFilesPerTrigger=1 over two staged files); each batch emits
    the updated running count, so the final count per user equals the
    batch GROUP BY — which is what the oracle checks."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(_staged_split_events(spark, sf_dir))
    )

    def running_count(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    updates = src.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = drain_to_table(updates, "update")
    # per-batch updates are monotone per user; the last (= max) is the total
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, sess
"""


@register("stream_sessionize", oracle=_SESSION_ORACLE)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap (SURVEY §2.9
    `stream_sessionize` EXT). Uses Spark's native session_window —
    the same operator Structured Streaming uses with state; batch
    form here so the oracle (gaps-and-islands SQL) can check it
    exactly. session_window.end is max(ts)+gap by definition, so
    session_end is aggregated as max(ts) to match the SQL notion.

    NULL pin (r8 sweep): a session needs a non-NULL (user, time) —
    Spark's session_window drops NULL event times implicitly while
    the SQL window keeps them; pinned EXPLICITLY on both engines."""
    e = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@register(
    "stream_join_static",
    oracle=(
        "WITH d AS (SELECT event_type, max(value) AS type_max "
        "FROM events GROUP BY event_type) "
        "SELECT e.event_id, e.event_type, "
        "(e.value >= CAST(0.9 AS DOUBLE) * d.type_max) AS is_extreme "
        "FROM events e JOIN d USING (event_type)"
    ),
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join: the event stream joins a static
    dimension (per-type max, batch-computed) under append mode — the
    canonical Structured Streaming pattern for enriching a live feed
    against reference data (the streaming form of the reference's
    per-row lookup before INSERT, `Reddit.py:75-80`). The static side
    re-resolves every micro-batch (so a slowly-changing dim is picked
    up without restarting the query) and broadcasts, keeping the join
    stateless: no watermark, no state store, each batch joins and
    emits. Drained output equals the batch join the oracle runs.
    max(value) (not avg) keeps the dim exact under any partitioning,
    and the 0.9 factor is the same IEEE double literal on both sides,
    so the hash comparison is airtight."""
    dim = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("value").alias("type_max"))
    )
    enriched = stream_events(spark, sf_dir).join(
        F.broadcast(dim), "event_type"
    )
    out = drain_to_table(enriched, "append")
    return out.select(
        "event_id",
        "event_type",
        (F.col("value") >= F.lit(0.9) * F.col("type_max")).alias("is_extreme"),
    )


# ------------------------------------------- stream-stream interval join

ATTRIB_WINDOW_S = 3600  # click attributes to a view within 1 hour

_STREAM_JOIN_STREAM_ORACLE = f"""
SELECT v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL {ATTRIB_WINDOW_S} SECONDS
"""


@register("stream_join_stream", oracle=_STREAM_JOIN_STREAM_ORACLE)
def stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the one major Structured
    Streaming join class the tier didn't yet exercise: a click stream
    attributes to the SAME USER's view stream within a 1-hour event-
    time window, both sides watermarked so the state store can expire
    buffered rows. (The ad-tech/funnel attribution shape;
    `stream_join_static` covers the stateless dim-enrichment class,
    this covers the stateful two-stream class.)

    Correctness contract: with availableNow over the staged fixture
    the drained inner join is deterministic and equals the batch
    interval join the oracle runs — gap emitted in exact integer
    microseconds. Watermarks bound STATE, not results, here: nothing
    arrives later than watermark - delay within the drain.

    Scale shape: Spark plans this as a stream-stream join keyed on
    user_id with event-time range pruning: each side's state store
    holds only rows younger than watermark + window (1h + 10min), so
    state is O(per-user recent activity), not O(stream). The join
    shuffle keys on user_id — high cardinality, no hot key. The time
    condition must be ON the join (not a post-filter) or state never
    expires — that is the operator's whole design point."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (
            F.col("c_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_S} SECONDS")
        ),
    ).select(
        "view_id",
        "click_id",
        (F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))).alias(
            "gap_us"
        ),
    )
    out = drain_to_table(joined, "append")
    return out


# ---------------------------------------------- late-data drop audit

# Deterministic 3-file fixture (one micro-batch per file via
# maxFilesPerTrigger=1; mtimes pin the order). Watermark 30 min,
# tumbling 10 min windows. Spark's micro-batch watermark recurrence:
# batch N's INPUT filter uses the watermark computed after batch N-1,
# state EVICTION after batch N uses the one computed from batch N —
# so 10:07 (one batch late, inside the lag) is accepted and lands in
# the already-finalizing 10:00 window, while 09:50 (two batches late,
# window end 10:00 <= wm 10:29) is dropped and surfaces in
# numRowsDroppedByWatermark. Emitted = windows whose end <= final
# watermark 11:15; the 11:20+ windows stay in state at drain end.
_LATE_FILES = (
    ("a.json", ("10:00:00", "10:05:00", "10:59:00")),
    ("b.json", ("10:07:00", "10:31:00", "11:30:00")),
    ("c.json", ("09:50:00", "10:35:00", "11:25:00", "11:45:00")),
)

_LATE_ORACLE = """
SELECT * FROM (VALUES
  ('window', TIMESTAMP '2021-01-01 10:00:00', CAST(3 AS BIGINT)),
  ('window', TIMESTAMP '2021-01-01 10:30:00', CAST(2 AS BIGINT)),
  ('window', TIMESTAMP '2021-01-01 10:50:00', CAST(1 AS BIGINT)),
  ('late_dropped', CAST(NULL AS TIMESTAMP), CAST(1 AS BIGINT))
) AS t(kind, window_start, n)
"""


@register("stream_late_data_audit", oracle=_LATE_ORACLE)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting for the watermarked ingest path: the
    drained tumbling-count table PLUS the engine's own count of rows
    dropped as too-late (`numRowsDroppedByWatermark` summed over
    micro-batch progress) as an audit row — the observability every
    production watermark needs (a silent late-drop is data loss you
    can't see in the output table). The emitted counts pin the full
    micro-batch watermark recurrence, including its one-batch lag:
    a row late by LESS than one batch of lag still lands (10:07),
    a row beyond it is dropped and COUNTED (09:50).

    Scale shape: state is bounded by the watermark horizon (windows
    per key-range x 40 min here, regardless of stream length); the
    audit reads P scalar metrics from query progress, not data. The
    drop counter is the zero-cost per-batch metric Spark already
    tracks."""
    import json as _json

    bronze = os.path.join(fresh_workdir(_WORK_ROOT), "bronze")
    os.makedirs(bronze)
    eid = 0
    for i, (fn, tss) in enumerate(_LATE_FILES):
        path = os.path.join(bronze, fn)
        with open(path, "w") as f:
            for t in tss:
                eid += 1
                f.write(
                    _json.dumps({"event_id": eid, "ts": f"2021-01-01 {t}"}) + "\n"
                )
        os.utime(path, (1600000000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(bronze)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .count()
    )
    # the finalized windows land as parquet (a sink that can be
    # re-read, not driver memory); the only driver-side values are
    # the P scalar progress metrics the drop counter reads
    landed, progress = land_parquet(agg)
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for so in p["stateOperators"]
    )
    wins = landed.select(
        F.lit("window").alias("kind"),
        F.col("window.start").alias("window_start"),
        F.col("count").alias("n"),
    )
    from ..catalog import literal_frame

    drop_row = literal_frame(
        spark,
        [("late_dropped", None, dropped)],
        "kind string, window_start timestamp, n long",
    )
    return wins.unionByName(drop_row)


# ------------------------------------------------ streaming keyed upsert

_UPSERT_ORACLE = """
SELECT user_id, ts, event_id, event_type, value FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


@register("stream_upsert_keyed", oracle=_UPSERT_ORACLE)
def stream_upsert_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert — the MERGE pattern every
    CDC/lakehouse pipeline runs: the newest version of each key
    (latest by (ts, event_id)) wins across micro-batches regardless
    of arrival order. The drained complete-mode table stands in for
    a Delta/Iceberg MERGE target (neither is a dependency here).

    Correctness device: "latest row" is `max(struct(ts, event_id,
    ...))` — an ALGEBRAIC agg with map-side combine (the
    `ext_dedup_cross_source` winner device), associative across
    micro-batches, so any batch partitioning of the input converges
    to the same table; event_id uniqueness makes the order total.
    The batch oracle is the equivalent window-rank-latest query.

    Scale shape: a native streaming aggregation keyed on user_id.
    Each micro-batch does map-side partial aggregation over its own
    rows and merges them into the state store, which holds one row
    per key (bounded by key cardinality, not history) and commits
    with the offsets, so a checkpointed query resumes where it
    stopped."""
    return drain_keyed_upsert(spark, stream_events(spark, sf_dir))


def keyed_upsert_fold(src: DataFrame) -> DataFrame:
    """The streaming aggregate behind `drain_keyed_upsert`: one
    (user_id, ts, event_id, event_type, value) row per user, the
    newest by (ts, event_id). Complete-mode output."""
    return (
        src.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )


def drain_keyed_upsert(spark: SparkSession, src: DataFrame) -> DataFrame:
    """Core of `stream_upsert_keyed`, parameterized over the source
    stream so tests can drive it with `maxFilesPerTrigger=1` and prove
    the cross-micro-batch merge (the registered query's availableNow
    run over one landed file is a single batch)."""
    return drain_to_table(keyed_upsert_fold(src), "complete")


_SLIDING_ORACLE = """
WITH w AS (SELECT event_type,
             unnest([CAST(date_trunc('day', ts) AS DATE) - 1,
                     CAST(date_trunc('day', ts) AS DATE)]) AS window_start
           FROM events
           WHERE ts IS NOT NULL)
SELECT window_start, event_type, count(*) AS cnt
FROM w GROUP BY window_start, event_type
"""


@register("stream_sliding_count", oracle=_SLIDING_ORACLE)
def stream_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming count (2-day windows advancing by
    1 day, per event type) — the overlapping-window primitive
    `stream_tumbling_count` doesn't exercise: every event belongs to
    exactly size/slide = 2 windows, so the state store keys
    (window, type) pairs and each arrival increments two of them.
    Sliding windows are how production monitors express "events in
    the trailing 48 h, refreshed daily" without re-scanning history.

    Drain contract: watermark + window('2 days', '1 day') under
    availableNow; the drained table equals the batch semantics of
    exploding each event into its two epoch-aligned day windows —
    which is exactly what the oracle does with unnest, pinning
    Spark's window assignment arithmetic (epoch-aligned starts)
    cross-engine.

    Scale shape: state is |windows|x|types| counters (map-side
    partial counts feed the state store). NOTE on state retention:
    this harness drains in COMPLETE mode (the memory-sink replay
    contract, like `stream_tumbling_count`), and Spark does NOT
    evict watermarked state in complete mode — state here grows with
    the window count. A production deployment runs this exact
    aggregation in UPDATE/APPEND mode, where the 1-day watermark
    retires windows older than the 2-day overlap horizon and state
    stays bounded; the aggregation/window arithmetic is identical.

    NULL-ts pin (the `agg_cusum_changepoint` convention): Spark's
    window() inserts an implicit isnotnull(ts) while DuckDB's unnest
    keeps NULL-ts rows in a NULL window_start group — both engines
    filter explicitly so the contract is independent of whether a
    testdata generation produces NULL timestamps."""
    agg = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "2 days", "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
    )
    out = drain_to_table(agg, "complete")
    return out.select(
        F.to_date(F.col("w.start")).alias("window_start"), "event_type", "cnt"
    )


# ------------------- nightly ingest + incremental dedup, one chain

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (one landed crawl
    file per micro-batch under maxFilesPerTrigger=1 — the nightly
    drop directory). No timestamp column, so no ts-encoding probe is
    needed here, unlike `stream_events`."""
    staged = _staged_table_dir(sf_dir, "documents")
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(staged)
    )


_INCR_CHAIN_ORACLE = f"""
WITH b AS (SELECT text FROM documents
           WHERE {doc_bucket_sql('doc_id')} < {INCR_BASE_BUCKETS}),
i AS (SELECT doc_id, text FROM documents
      WHERE {doc_bucket_sql('doc_id')} >= {INCR_BASE_BUCKETS})
SELECT i.doc_id,
       EXISTS (SELECT 1 FROM b WHERE b.text = i.text) AS dup_of_base,
       EXISTS (SELECT 1 FROM i i2 WHERE i2.text = i.text
               AND i2.doc_id < i.doc_id) AS dup_in_increment,
       (NOT EXISTS (SELECT 1 FROM b WHERE b.text = i.text)
        AND NOT EXISTS (SELECT 1 FROM i i2 WHERE i2.text = i.text
                        AND i2.doc_id < i.doc_id)) AS is_new
FROM i
"""


@register("stream_dedup_incremental_chain", oracle=_INCR_CHAIN_ORACLE)
def stream_dedup_incremental_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly-ingest + incremental-dedup path as ONE drained
    streaming contract (r9 verdict item 4b): documents arrive in
    micro-batches (the crawl drop), each batch is fingerprinted
    in-stream, and the chain maintains the running fingerprint index
    a nightly dedup pipeline actually keeps — then flags every
    increment document against (a) the STATIC base corpus
    (`ext_dedup_incremental`'s md5-bucket split: buckets 0-7 base,
    8-9 increment) and (b) all OTHER increment documents, with
    first-copy-wins by doc_id. Emits (doc_id, dup_of_base,
    dup_in_increment, is_new); the keep-set is the `is_new` rows plus
    the in-increment canonical copies.

    Batch-order independence (the `stream_upsert_keyed` device): the
    fingerprint index (fingerprint -> min doc_id) is an ALGEBRAIC
    min — associative and commutative, so ANY partitioning of the
    crawl into micro-batches converges to the same index, and "first
    copy" is the doc_id order, not arrival order. The flags are one
    drained join, not per-batch lookups, so a doc that precedes its
    duplicate in a LATER batch still wins. The multi-batch merge is
    proven in tests/test_streaming.py with a 3-file split; the
    registered availableNow drain over the single landed file is
    batch 1 of the same query.

    Scale shape: each micro-batch fingerprints its rows in the scan
    and lands (doc_id, fingerprint) once through a checkpointed
    parquet sink, so per-batch work is proportional to the batch and
    nothing is re-read or re-aggregated per batch. At drain the index
    is one hash aggregate over the landed rows, one row per DISTINCT
    increment text; the increment rows join it (fingerprint
    equi-join) and LEFT-join the base's distinct fingerprints — at
    100 TB the base side is the bucketed fingerprint table of
    `ext_dedup_incremental_bucketed` (co-located, zero base shuffle
    per night) with the bloom prefilter of
    `ext_dedup_incremental_bloom` in front. Document text never
    crosses the wire — fingerprints are computed in the batch scan.
    (Oracle compares raw text: identical grouping absent SHA-256
    collisions.)"""
    from ..functions.hashing import doc_bucket

    bucket = doc_bucket("doc_id")
    incr_stream = (
        stream_documents(spark, sf_dir)
        .filter(bucket >= INCR_BASE_BUCKETS)
        .select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    )
    base = (
        load(spark, sf_dir, "documents")
        .filter(doc_bucket("doc_id") < INCR_BASE_BUCKETS)
        .select(F.sha2(F.col("text"), 256).alias("h"))
        .distinct()
    )
    return drain_incremental_dedup(spark, incr_stream, base)


def drain_incremental_dedup(
    spark: SparkSession, incr_stream: DataFrame, base: DataFrame
) -> DataFrame:
    """Core of `stream_dedup_incremental_chain`, parameterized over
    the (doc_id, h) increment stream and the base fingerprint set so
    tests can drive it with a multi-file `maxFilesPerTrigger=1`
    source and prove the cross-micro-batch merge. The stream lands
    once as parquet; the (h -> min doc_id) index is built at drain
    time over the landed rows."""
    rows, _ = land_parquet(incr_stream)
    index = rows.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    flagged = (
        rows.join(index, "h", "left")
        .join(base.withColumn("in_base", F.lit(True)), "h", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("in_base"), F.lit(False)).alias("dup_of_base"),
            F.coalesce(
                F.col("first_doc") < F.col("doc_id"), F.lit(False)
            ).alias("dup_in_increment"),
        )
    )
    return flagged.withColumn(
        "is_new", ~F.col("dup_of_base") & ~F.col("dup_in_increment")
    )


# ---------------- incremental datacard maintenance (r11 add)

_STREAM_DATACARD_ORACLE = """
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
         AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM documents GROUP BY 1, 2
"""


@register("stream_datacard_incremental", oracle=_STREAM_DATACARD_ORACLE)
def stream_datacard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained corpus datacard (r10 verdict item 6b —
    the streaming twin of the release-notes datacard family): documents
    arrive in micro-batches (the nightly crawl drop), and each batch
    folds its per-(source, lang) cell partials — doc count, token
    count, min/max doc_id — into the running card, so the curated-
    corpus summary is ALWAYS current instead of recomputed from
    scratch per release (`ext_datacard_diff` compares two frozen
    cards; this maintains one card as data lands).

    Batch-order independence (the `stream_upsert_keyed` /
    `drain_incremental_dedup` device): every maintained statistic is
    ALGEBRAIC — counts and token sums merge by +, first/last doc ids
    by min/max, all associative and commutative — so ANY partitioning
    of the corpus into micro-batches converges to the same card,
    proven with a 3-file split in tests/test_streaming.py; the
    registered availableNow drain over the single landed file is
    batch 1 of the same query. Drained card == the batch GROUP BY,
    which is the DuckDB oracle.

    Scale shape: a native streaming aggregation keyed on (source,
    lang). Each micro-batch aggregates its own rows map-side (cells
    shuffle as (source, lang, 4 longs) — never text) and merges them
    into the state store, which is bounded by |sources| × |langs|
    regardless of corpus size and commits with the offsets, so a
    checkpointed query resumes where it stopped. NULL text
    contributes NULL to the token sum on BOTH engines (Spark
    size(split(NULL)) and DuckDB len(string_split(NULL)) are both
    NULL, and sum skips NULLs); an all-NULL cell reads token 0 via
    the shared coalesce."""
    doc_stream = stream_documents(spark, sf_dir).select(
        "doc_id", "source", "lang", "text"
    )
    return drain_datacard(spark, doc_stream)


def datacard_fold(doc_stream: DataFrame) -> DataFrame:
    """The streaming aggregate behind `drain_datacard`: one row per
    (source, lang) cell with n_docs, n_tokens, first_doc and
    last_doc. Complete-mode output."""
    return (
        doc_stream.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "source",
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.col("first_doc").cast("long").alias("first_doc"),
            F.col("last_doc").cast("long").alias("last_doc"),
        )
    )


def drain_datacard(spark: SparkSession, doc_stream: DataFrame) -> DataFrame:
    """Core of `stream_datacard_incremental`, parameterized over the
    document stream so tests can drive it with a multi-file
    `maxFilesPerTrigger=1` source and prove the cross-micro-batch
    algebraic merge."""
    return drain_to_table(datacard_fold(doc_stream), "complete")


# ------- nightly embedding ingest + incremental embcos dedup, one
# chain (r13 add — r12 verdict item 3c: the VECTOR arm of
# `stream_dedup_incremental_chain`, streaming twin of
# `ext_dedup_embcos_incremental`)

EMB_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings table (one landed
    nightly-encode file per micro-batch under maxFilesPerTrigger=1)."""
    staged = _staged_table_dir(sf_dir, "embeddings")
    return (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(staged)
    )


def stream_embcos_incremental_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nightly embedding ingest + incremental cosine dedup as ONE
    drained streaming contract — the VECTOR arm of
    `stream_dedup_incremental_chain` (r12 verdict item 3c): tonight's
    encoded vectors arrive in micro-batches and land once as parquet;
    at drain the landed increment is probed against the standing base
    corpus (dup_of_base — the broadcast probe of
    `ext_dedup_embcos_incremental`, proportional to the increment)
    and against itself (dup_in_increment, the id-ordered triangle,
    first-copy-wins by vec_id). The flags are batch-order
    INDEPENDENT: cosine-vs-base is a per-row predicate, and the
    triangle sees the same landed rows no matter how the crawl split
    into batches (proven with a 3-file maxFilesPerTrigger=1 source in
    tests/test_streaming.py; the registered availableNow drain over
    the single landed file is batch 1 of the same query).

    Emits the exact-arm contract (vec_id, dup_of_base,
    dup_in_increment, is_new) and shares `ext_dedup_embcos_incremental`'s
    oracle verbatim — the probe's fold cosine is bit-identical to
    it, so the streamed chain is hash-checked against the same SQL
    replay.

    Scale shape: each micro-batch lands its (vec_id, dv) rows once,
    with no per-batch probe or re-read. At drain the increment
    replicates to every block of the blocked base (at 100 TB the
    probe composes with the standing LSH bucket index exactly as the
    batch arm's docstring lays out); the triangle is
    |inc|²-bounded."""
    from ..functions.hashing import doc_bucket
    from ..operators.similarity import _fin_emb_spark

    prep = (
        stream_embeddings(spark, sf_dir)
        .filter(F.expr(_fin_emb_spark()))
        .filter(doc_bucket("vec_id") >= INCR_BASE_BUCKETS)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("dv")
        )
    )
    base = (
        load(spark, sf_dir, "embeddings")
        .filter(F.expr(_fin_emb_spark()))
        .filter(doc_bucket("vec_id") < INCR_BASE_BUCKETS)
        .select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").cast("array<double>").alias("bdv"),
        )
    )
    return drain_embcos_incremental(spark, prep, base)


def drain_embcos_incremental(
    spark: SparkSession, incr_stream: DataFrame, base: DataFrame
) -> DataFrame:
    """Core of `stream_embcos_incremental_chain`, parameterized over
    the (vec_id, dv) increment stream and the (b_id, bdv) base frame
    so tests can drive it with a multi-file `maxFilesPerTrigger=1`
    source and prove batch-order independence. The stream lands once
    as parquet; both probes run the NumPy block-probe kernel
    (`similarity.embcos_flagged_ids`) over the landed rows at drain
    time: base × increment, then the increment triangle."""
    from ..operators.similarity import embcos_flagged_ids

    base_k = base.select(F.col("b_id").alias("vec_id"), F.col("bdv").alias("dv"))
    rows, _ = land_parquet(incr_stream)
    inc_k = rows.select("vec_id", "dv")
    dob = embcos_flagged_ids(base_k, inc_k, lt_only=False).withColumn(
        "f_base", F.lit(True)
    )
    dii = embcos_flagged_ids(inc_k, inc_k, lt_only=True).withColumn(
        "f_incr", F.lit(True)
    )
    fb = F.coalesce(F.col("f_base"), F.lit(False))
    fi = F.coalesce(F.col("f_incr"), F.lit(False))
    return (
        rows.select("vec_id")
        .join(F.broadcast(dob), "vec_id", "left")
        .join(F.broadcast(dii), "vec_id", "left")
        .select(
            "vec_id",
            fb.alias("dup_of_base"),
            fi.alias("dup_in_increment"),
            (~(fb | fi)).alias("is_new"),
        )
    )


def _register_embcos_chain() -> None:
    from ..operators.similarity import _EMBCOS_INCR_ORACLE

    register("stream_embcos_incremental_chain", oracle=_EMBCOS_INCR_ORACLE)(
        stream_embcos_incremental_chain
    )


_register_embcos_chain()
