"""Pipeline composition + maintenance (SURVEY §2.9
`orchestration_dag`, `maintenance_vacuum`, `cache_memo`).

The reference orchestrates with an Airflow DAG — start → [reddit ∥
4chan ∥ youtube] → NLP → vacuum → end, 3 retries, hourly
(`Data Collection/Airflow.py:43-102`). The engine form is medallion
job chaining: bronze (landed payloads) → silver (normalized unified
comments) → gold (enriched + aggregates). Task retries come from
Spark; idempotency comes from the anti-join sinks (streaming/ingest);
the vacuum task becomes small-file compaction + statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_frame, load
from ..enrich.hatespeech import an_table, enrich_table
from ..registry import register
from ..session import fresh_workdir


@register(
    "orchestration_dag",
    oracle=(
        "WITH c AS (SELECT doc_id, "
        "(length(text) - length(replace(text, 'fast', ''))) / 4 AS n_fast, "
        "(length(text) - length(replace(text, 'big', ''))) / 3 AS n_big, "
        "(length(text) - length(replace(text, 'slow', ''))) / 4 AS n_slow, "
        "(length(text) - length(replace(text, 'small', ''))) / 5 AS n_small "
        "FROM documents), "
        "s AS (SELECT doc_id, "
        "(1.0*n_fast + 0.5*n_big - 1.0*n_slow - 0.5*n_small) / "
        "(1.0*n_fast + 0.5*n_big + 1.0*n_slow + 0.5*n_small + 1.0) AS score FROM c) "
        "SELECT CASE WHEN score >= 0.05 THEN 'positive' "
        "WHEN score <= -0.05 THEN 'negative' ELSE 'neutral' END AS sentiment, "
        "count(*) AS cnt FROM s GROUP BY sentiment"
    ),
)
def orchestration_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAG's terminal analytic: chain silver → gold enrichment →
    dashboard aggregate in one declarative plan (ref: `Airflow.py:
    95-102` task chain; the dashboard's sentiment distribution,
    `app.py:105-130`). What Airflow runs as three processes with a
    database between each, Catalyst runs as one fused pipeline."""
    gold = enrich_table(spark, sf_dir)
    return gold.groupBy("sentiment").agg(F.count("*").alias("cnt"))


@register(
    "maintenance_vacuum",
    # the job's report is fully determined: 16 fragments in, 4 files
    # out, rows conserved, statistics computed — so the side-effecting
    # job still gets a value-checked oracle
    # LEAST(n, count): a file "fragment" is a part-file CONTAINING
    # rows — on a tiny fixture round-robin leaves most of the 16
    # target partitions empty, so the count caps at the row count.
    # The operator counts data files via input_file_name() for the
    # same reason: Spark's writer can emit an empty schema-carrier
    # part-file (observed: 10 rows -> 10 one-row files + 1 empty, r8
    # NULL sweep), and an empty file is not a fragment
    oracle=(
        "SELECT CAST(LEAST(16, (SELECT count(*) FROM events)) AS INTEGER) "
        "AS files_before, "
        "CAST(LEAST(4, (SELECT count(*) FROM events)) AS INTEGER) AS files_after, "
        "(SELECT count(*) FROM events) AS rows_before, "
        "(SELECT count(*) FROM events) AS rows_after, "
        "true AS stats_computed"
    ),
)
def maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction + statistics — the engine form of the
    reference's `VACUUM (VERBOSE, ANALYZE)` task (ref: `Airflow.py:
    85-90`, TriggerRule.ALL_DONE). Writes a deliberately fragmented
    copy of events to /tmp, compacts it to size-targeted files, and
    reports before/after file counts + row conservation. On a lake
    deployment this is the job that keeps scan task counts sane."""
    work = fresh_workdir("/tmp/smdp_compact")
    frag_dir, compact_dir = os.path.join(work, "frag"), os.path.join(work, "compact")
    e = load(spark, sf_dir, "events")
    e.repartition(16).write.parquet(frag_dir)  # simulate small-file buildup
    frag = spark.read.parquet(frag_dir)
    # compaction: coalesce to ~target file size (here: 4 files)
    frag.coalesce(4).write.parquet(compact_dir)

    def n_files(d: str) -> int:
        # count DATA files (files contributing rows) via
        # input_file_name(): filesystem-agnostic like the Hadoop
        # listStatus it replaces, and immune to the writer's empty
        # schema-carrier part-file (0 rows != a fragment; the oracle's
        # LEAST(k, row_count) cap is exactly this definition)
        df = spark.read.schema(e.schema).parquet(d)
        return df.select(F.input_file_name()).distinct().count()

    # the ANALYZE half of VACUUM (VERBOSE, ANALYZE): register the
    # compacted table and compute catalog statistics, so Catalyst's
    # cost-based decisions (broadcast thresholds, join reordering)
    # see fresh row counts/sizes — the reference runs ANALYZE for the
    # same reason (Postgres planner statistics)
    tbl = "smdp_compacted_events"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{compact_dir}'")
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    stats_rows = spark.sql(f"DESCRIBE EXTENDED {tbl}").filter(
        F.col("col_name") == "Statistics"
    ).count()

    compacted = spark.read.parquet(compact_dir)
    return literal_frame(
        spark,
        [
            (
                n_files(frag_dir),
                n_files(compact_dir),
                e.count(),
                compacted.count(),
                bool(stats_rows),
            )
        ],
        "files_before int, files_after int, rows_before long, rows_after long, "
        "stats_computed boolean",
    )


@register(
    "cache_memo",
    oracle=(
        "SELECT event_type, count(*) AS cnt, "
        "CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share "
        "FROM events GROUP BY event_type"
    ),
)
def cache_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized reuse of an intermediate (ref: `Youtube_final.py:9,
    13-14,52-56` — the in-process dict cache of API results, cleared
    per job). Engine form: `.cache()` the filtered/parsed
    intermediate, derive two results from it (counts + shares) in one
    plan; unpersist is the per-job clear."""
    e = load(spark, sf_dir, "events").cache()
    total = e.count()  # first action materializes the cache
    out = e.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        (F.count("*").cast("double") / F.lit(total)).alias("share"),
    )
    # the per-job cache clear (`Youtube_final.py:135`) is e.unpersist()
    # once the consumer has collected `out`; left cached here since the
    # returned plan still reads it.
    return out


# ------------------------------------------ medallion chain end-to-end

# Batch-SQL twin of the drained streaming chain: flatten the landed
# fixture, dedup (fixture duplicates are bit-identical, so DISTINCT ==
# the stream's in-batch/anti-join dedup), then the gold enrichment
# formulas (identical to enrich_table's oracle, over the comment body).
def _medallion_oracle() -> str:
    from ..sources.rest_json import REDDIT_LISTING_FIXTURE

    return (
        "WITH pages AS (SELECT unnest(data.children) AS c "
        f"FROM read_json('{REDDIT_LISTING_FIXTURE}', format='newline_delimited', "
        "columns={'kind': 'VARCHAR', 'data': 'STRUCT(after VARCHAR, children "
        "STRUCT(kind VARCHAR, data STRUCT(subreddit VARCHAR, link_id VARCHAR, "
        "body VARCHAR, score BIGINT, created_utc BIGINT, id VARCHAR))[])'}) ), "
        "u AS (SELECT DISTINCT c.data.id AS comment_id, c.data.body AS text "
        "FROM pages), "
        "c2 AS (SELECT comment_id, text, "
        "(length(text) - length(replace(text, 'fast', ''))) / 4 AS n_fast, "
        "(length(text) - length(replace(text, 'big', ''))) / 3 AS n_big, "
        "(length(text) - length(replace(text, 'slow', ''))) / 4 AS n_slow, "
        "(length(text) - length(replace(text, 'small', ''))) / 5 AS n_small, "
        "least(CAST(0.99 AS DOUBLE), "
        "CAST(0.2 AS DOUBLE) * (length(text) - length(replace(text, 'dup', ''))) / 3 + "
        "CAST(0.1 AS DOUBLE) * (length(text) - length(replace(text, 'hash', ''))) / 4) AS conf "
        "FROM u), "
        "s AS (SELECT comment_id, text, conf, "
        "(1.0*n_fast + 0.5*n_big - 1.0*n_slow - 0.5*n_small) / "
        "(1.0*n_fast + 0.5*n_big + 1.0*n_slow + 0.5*n_small + 1.0) AS sentiment_score "
        "FROM c2) "
        "SELECT comment_id, "
        "trim(lower(regexp_replace(regexp_replace(text, 'https?://[^ \\t\\n\\f\\r]+', '', 'g'), "
        "'[^a-zA-Z0-9 \\t\\n\\f\\r]', '', 'g'))) AS cleaned_comment, "
        "(CASE WHEN conf >= 0.5 THEN 'flag' ELSE 'ok' END = 'flag' AND conf > 0.9) "
        "AS is_hate_speech, conf AS hate_speech_confidence, "
        "CASE WHEN sentiment_score >= 0.05 THEN 'positive' "
        "WHEN sentiment_score <= -0.05 THEN 'negative' ELSE 'neutral' END AS sentiment, "
        "sentiment_score FROM s"
    )


@register("stream_medallion_gold", oracle=_medallion_oracle())
def stream_medallion_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE Airflow DAG as one drained medallion chain (ref:
    `Airflow.py:95-102` collect → NLP → store): land the listing
    fixture TWICE in bronze (simulating two poll cycles that re-fetch
    overlapping pages), drain the bronze → silver streaming ingest
    with availableNow (flatten → late-row filter, in-batch dedup and
    anti-join append, streaming/ingest.py), then build the gold
    enrichment table off the silver parquet. Output equals the
    pure-batch gold computation on the same payloads — the
    exactly-once evidence for the chain: the doubled bronze input
    changes NOTHING downstream.

    Scale shape: the stream is stateless — each micro-batch is one
    landed page, deduped in a single partition without a shuffle; the
    silver anti-join broadcasts sink KEYS, not rows; the gold table is
    `an_table`, one narrow projection with zero shuffles and no Python
    stage (`enrich_table`'s plan). On a cluster the drain is the
    nightly `availableNow` catch-up run over whatever the fetchers
    landed."""
    import shutil

    from ..sources.rest_json import REDDIT_LISTING_FIXTURE
    from ..streaming.ingest import ingest_to_silver

    work = fresh_workdir("/tmp/smdp_medallion")
    bronze, silver, ckpt = (
        os.path.join(work, d) for d in ("bronze", "silver", "ckpt")
    )
    os.makedirs(bronze)
    for i in range(2):
        shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, f"page_{i}.json"))
    # ingest_to_silver awaits the availableNow drain itself before
    # returning, so the silver table is complete here
    ingest_to_silver(spark, bronze, silver, ckpt)
    silver_df = spark.read.parquet(silver).select(
        "comment_id", F.col("body").alias("text")
    )
    return an_table(silver_df).drop("original_comment")
