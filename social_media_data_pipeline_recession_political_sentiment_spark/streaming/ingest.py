"""Streaming ingestion pipeline — the engine form of the reference's
collector loops (SURVEY §2.9 `stream_microbatch`, `stream_dedup`,
`stream_rate_limit`; §3.1 trace).

Reference behavior: `schedule.every(...)` polling loops fetch JSON,
flatten, and insert row-by-row with a per-row existence probe
(`Data Collection/Reddit.py:166-173,72-96`). Engine mapping:

    bronze dir (landed JSON payloads, written by a thin fetcher)
      └─ readStream.json(schema)           # micro-batch file source
         └─ flatten_reddit_listing(...)    # typed explode/project
            └─ foreachBatch upsert:        # stateless stream, one dedup layer
                 drop rows at or below the high-water mark − watermark
                 dropDuplicates(comment_id) within the batch
                 anti-join against the silver sink's keys
                 then append parquet       # idempotent, batch-level

One dedup layer, in the sink: the anti-join against silver is the
durable cross-restart guarantee (the scalable form of the reference's
probe — one join per micro-batch, not 2 round-trips per row), so the
stream keeps no state store. The late-row rule reads a high-water mark
that silver itself makes durable: its max `created_utc`, read once per
drain and then raised by each batch's observed max.

Rate limiting (`Reddit.py:23-24,37-59`) maps to source-side
`maxFilesPerTrigger` — the engine's token bucket is files per
micro-batch; HTTP-level backoff stays in the fetcher outside the
engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import fresh_workdir
from ..sources.rest_json import (
    REDDIT_LISTING_FIXTURE,
    REDDIT_LISTING_SCHEMA,
    flatten_reddit_listing,
)

SILVER_COMMENT_COLS = ["subreddit", "post_id", "body", "score", "created_utc", "comment_id"]


def read_bronze_stream(
    spark: SparkSession, bronze_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Micro-batch file source over landed payloads. max_files_per_trigger
    is the ingest rate limit (SURVEY §2.9 `stream_rate_limit`)."""
    reader = spark.readStream.schema(REDDIT_LISTING_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(bronze_dir)


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path))


def ingest_to_silver(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    checkpoint_dir: str,
    watermark: str = "12 hours",
):
    """Drain bronze into silver (availableNow: the Airflow-DAG batch
    run, `Airflow.py:10,95-102`) and return the finished StreamingQuery.

    Each micro-batch is upserted in one pass: rows with `created_utc`
    at or below `mark - watermark` are dropped as late, the rest are
    deduped within the batch and anti-joined against silver's keys.
    `mark` (unix micros) starts at silver's max `created_utc` and rises
    to each batch's max event time after its write — the same input
    rows Spark's watermark would track, but durable in silver, so a
    fresh checkpoint on an existing silver still rejects old rows."""
    mark = None
    if _has_parquet(silver_dir):
        mark = (
            spark.read.schema("created_utc timestamp")
            .parquet(silver_dir)
            .agg(F.max(F.unix_micros("created_utc")))
            .first()[0]
        )

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        nonlocal mark
        seen = Observation()
        batch = batch.observe(seen, F.max(F.unix_micros("created_utc")).alias("mark"))
        if mark is not None:  # NULL event times pass, as under Spark's watermark
            horizon = F.expr(f"timestamp_micros({mark}) - INTERVAL {watermark}")
            batch = batch.filter(F.col("created_utc").isNull() | (F.col("created_utc") > horizon))
        # one landed page per batch: a single partition satisfies the
        # dedup's distribution, so it plans no Exchange
        batch = batch.coalesce(1).dropDuplicates(["comment_id"])
        if _has_parquet(silver_dir):
            existing = batch.sparkSession.read.schema("comment_id string").parquet(silver_dir)
            batch = batch.join(F.broadcast(existing), "comment_id", "left_anti")
        batch.select(*SILVER_COMMENT_COLS).write.mode("append").parquet(silver_dir)
        batch_max = seen.get["mark"]
        if batch_max is not None and (mark is None or batch_max > mark):
            mark = batch_max

    q = (
        flatten_reddit_listing(read_bronze_stream(spark, bronze_dir))
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


@register(
    "stream_rate_limit",
    oracle=(
        "WITH one AS (SELECT count(*) AS n FROM ("
        "SELECT unnest(data.children) AS c "
        f"FROM read_json('{REDDIT_LISTING_FIXTURE}', format='newline_delimited', "
        "columns={'kind': 'VARCHAR', 'data': 'STRUCT(after VARCHAR, children "
        "STRUCT(kind VARCHAR, data STRUCT(subreddit VARCHAR, link_id VARCHAR, "
        "body VARCHAR, score BIGINT, created_utc BIGINT, id VARCHAR))[])'}))) "
        "SELECT CAST(3 AS BIGINT) AS n_batches, CAST(3 * n AS BIGINT) AS n_rows FROM one"
    ),
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-side ingest rate limiting (SURVEY §2.9 — the engine
    analog of the reference's 100-req/min token bucket,
    `Reddit.py:23-24,37-59`): `maxFilesPerTrigger=1` caps each
    micro-batch at one landed payload file. Three landed files =>
    exactly three micro-batches, counted via foreachBatch. The
    HTTP-level backoff itself stays in the fetcher, outside engine
    semantics."""
    import shutil

    work = fresh_workdir("/tmp/smdp_ratelimit")
    bronze = os.path.join(work, "bronze")
    os.makedirs(bronze)
    for i in range(3):
        shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, f"page_{i}.json"))

    batches: list[int] = []
    flat = flatten_reddit_listing(read_bronze_stream(spark, bronze, max_files_per_trigger=1))
    q = (
        flat.writeStream.foreachBatch(lambda b, _e: batches.append(b.count()))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(len(batches), sum(batches))], "n_batches bigint, n_rows bigint"
    )


@register(
    "stream_microbatch",
    # the fixture's duplicate rows are bit-identical, so DISTINCT over
    # the flattened pages equals the streaming dedup result
    oracle=(
        "WITH pages AS (SELECT unnest(data.children) AS c "
        f"FROM read_json('{REDDIT_LISTING_FIXTURE}', format='newline_delimited', "
        "columns={'kind': 'VARCHAR', 'data': 'STRUCT(after VARCHAR, children "
        "STRUCT(kind VARCHAR, data STRUCT(subreddit VARCHAR, link_id VARCHAR, "
        "body VARCHAR, score BIGINT, created_utc BIGINT, id VARCHAR))[])'}) ) "
        "SELECT DISTINCT c.data.id AS comment_id, c.data.subreddit AS subreddit, "
        "coalesce(c.data.score, 0) AS score, "
        "(to_timestamp(c.data.created_utc) AT TIME ZONE 'UTC') AS created_utc FROM pages"
    ),
)
def stream_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole collector path end-to-end on the landed fixture:
    bronze → flatten → late-row filter, in-batch dedup and anti-join
    silver append, drained with availableNow; returns the silver table
    (6 unique comments — the fixture's cross-page duplicate is dropped).
    Re-runs are idempotent: the anti-join keeps the silver table
    stable (asserted in tests/test_streaming.py)."""
    import shutil

    work = fresh_workdir("/tmp/smdp_ingest")
    bronze, silver, ckpt = (os.path.join(work, d) for d in ("bronze", "silver", "ckpt"))
    os.makedirs(bronze)
    shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, "page_0.json"))
    ingest_to_silver(spark, bronze, silver, ckpt)
    return (
        spark.read.parquet(silver)
        .select("comment_id", "subreddit", "score", "created_utc")
        .orderBy("comment_id")
    )
