"""The reference dashboard's query corpus, re-expressed as engine
calls (ref: `Analysis Dashboard/app.py` — 13 parametrized SQL routes;
`Data Analysis/Analysis_queries.ipynb` cells 0-1).

A reference user's daily queries are exactly these routes. Each is a
plain function `(spark, sf_dir, start, end) -> DataFrame` over the
testdata `events` table. The reference stores comment time in three
encodings (SURVEY §1.2): native timestamps (Reddit/politics), display
TEXT needing a cast at query time (4chan, `app.py:71,105,222`), and
ISO-8601 TEXT compared lexically (YouTube, `app.py:152,244`). The
DuckDB oracles below replay those encodings literally; the engine
evaluates each route's predicate as an equivalent one over the native
`ts` column, so the oracles cross-check every rewrite.

The twelve count and distribution routes are projections of ONE
per-page aggregate (`page_summary`): one `events` scan, one window and
one grouping-sets aggregate keyed by platform. `politics_comments`
and `daily_counts` are two small native-ts scans.

Platform mapping onto the synthetic events stream (fixed, arbitrary):
click=reddit, error=4chan, purchase=youtube, signup=politics.
Enrichment columns derive from `value` so both engines can compute
them: sentiment = value>=100 positive / value<30 negative / neutral;
is_hate_speech = value >= 150, confidence = min(value/200, 0.99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import compute_once, load
from .registry import register
from .session import scoped_conf

PLATFORMS = {
    "reddit": "click",
    "chan": "error",
    "youtube": "purchase",
    "politics": "signup",
}

# default route parameters (the Flask routes default to a fixed window,
# `app.py:290-292`); chosen inside the testdata's January 2024 span
DEFAULT_START = "2024-01-05"
DEFAULT_END = "2024-01-25"

# grouping_id() of page_summary's three grouping sets over
# (platform, sentiment, is_hate_speech); a set bit is a rolled-up column
_GID = {"platform": 0b011, "sentiment": 0b001, "is_hate_speech": 0b010}


def page_summary(spark: SparkSession, sf_dir: str, start=DEFAULT_START, end=DEFAULT_END) -> DataFrame:
    """Every count and distribution number of one dashboard page
    (`app.py:64-265`) from one `events` scan.

    Rows are the grouping sets (platform), (platform, sentiment) and
    (platform, is_hate_speech), told apart by `gid` (`_GID`), because a
    NULL `value` yields a NULL is_hate_speech group. `n_count` counts
    the rows in the count routes' window. `n_dist` reproduces the
    distribution routes' enriched-JOIN-raw on the string `event_id`:
    each row weighs as many in-window rows as share its non-NULL
    (platform, event_id), so a redelivered id counts once per copy and
    a NULL id never joins.

    Each route's TEXT/ISO predicate is evaluated on `ts` directly. The
    ISO text is whole seconds, so `comment_time < 'endT00:00:00Z'` is
    `ts < end` and `comment_time <= 'endT23:59:59Z'` is
    `ts < end + 1 day`; the display text's date is `to_date(ts)`."""
    ts, day = F.col("ts"), F.to_date("ts")
    s_ts, e_ts = F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
    s_day, e_day = F.lit(start).cast("date"), F.lit(end).cast("date")
    et = F.col("event_type")
    chan, youtube = et == PLATFORMS["chan"], et == PLATFORMS["youtube"]
    # count routes (app.py:70-72): half-open, on days for 4chan's DATE()
    in_count = F.when(chan, (day >= s_day) & (day < e_day)).otherwise(
        (ts >= s_ts) & (ts < e_ts)
    )
    # distribution routes (app.py:105-265): BETWEEN on each encoding
    in_dist = (
        F.when(chan, day.between(s_day, e_day))
        .when(youtube, (ts >= s_ts) & (ts < F.date_add(e_day, 1).cast("timestamp")))
        .otherwise(ts.between(s_ts, e_ts))
    )
    platform = (
        F.when(et == "click", "reddit")
        .when(et == "error", "chan")
        .when(et == "purchase", "youtube")
        .when(et == "signup", "politics")
    )
    sentiment = (
        F.when(F.col("value") >= 100, "positive")
        .when(F.col("value") < 30, "negative")
        .otherwise("neutral")
    )
    rows = load(spark, sf_dir, "events").filter(et.isin(*PLATFORMS.values())).select(
        platform.alias("platform"),
        F.col("event_id").cast("string").alias("key"),
        sentiment.alias("sentiment"),
        (F.col("value") >= 150).alias("is_hate_speech"),
        F.coalesce(in_count, F.lit(False)).cast("long").alias("n_count"),
        F.coalesce(in_dist, F.lit(False)).cast("long").alias("in_dist"),
    )
    joined = F.sum("in_dist").over(Window.partitionBy("platform", "key"))
    n_dist = F.when(F.col("key").isNotNull(), joined).otherwise(0)
    return (
        rows.withColumn("n_dist", n_dist)
        .filter((F.col("n_count") > 0) | (F.col("n_dist") > 0))
        .groupingSets(
            [["platform"], ["platform", "sentiment"], ["platform", "is_hate_speech"]],
            "platform",
            "sentiment",
            "is_hate_speech",
        )
        .agg(
            F.sum("n_count").alias("n_count"),
            F.sum("n_dist").alias("n_dist"),
            F.grouping_id().alias("gid"),
        )
    )


def _count_of(summary: DataFrame, platform: str) -> DataFrame:
    """A count route (`app.py:70-72`): one row, 0 when nothing matches."""
    cell = (F.col("platform") == platform) & (F.col("gid") == _GID["platform"])
    return summary.filter(cell).agg(F.coalesce(F.sum("n_count"), F.lit(0)).alias("count"))


def _dist_of(summary: DataFrame, platform: str, col: str) -> DataFrame:
    """A distribution route (`app.py:105-265`): `col`, count."""
    cell = (F.col("platform") == platform) & (F.col("gid") == _GID[col])
    return summary.filter(cell & (F.col("n_dist") > 0)).select(
        col, F.col("n_dist").alias("count")
    )


def _in_window(spark, sf_dir, platform, start, end) -> DataFrame:
    """The platform's events with `start <= ts < end`."""
    ts = F.col("ts")
    return load(spark, sf_dir, "events").filter(
        (F.col("event_type") == PLATFORMS[platform])
        & (ts >= F.lit(start).cast("timestamp"))
        & (ts < F.lit(end).cast("timestamp"))
    )


# ---------------------------------------------------------------- routes
# 1 (app.py:34-38): politics comments in a half-open range, ordered
def politics_comments(spark, sf_dir, start=DEFAULT_START, end=DEFAULT_END):
    return (
        _in_window(spark, sf_dir, "politics", start, end)
        .select(F.col("ts").alias("created_utc"))
        .orderBy("created_utc")
    )


# 2-4 (app.py:70-77): per-platform volume counts
def platform_count(spark, sf_dir, platform, start=DEFAULT_START, end=DEFAULT_END):
    return _count_of(page_summary(spark, sf_dir, start, end), platform)


# 5-12 (app.py:105-265): per-platform sentiment / hate distributions
def sentiment_distribution(spark, sf_dir, platform, start=DEFAULT_START, end=DEFAULT_END):
    return _dist_of(page_summary(spark, sf_dir, start, end), platform, "sentiment")


def hate_distribution(spark, sf_dir, platform, start=DEFAULT_START, end=DEFAULT_END):
    return _dist_of(page_summary(spark, sf_dir, start, end), platform, "is_hate_speech")


# 13 (app.py:44-59): the manual daily-count loop as one aggregation.
# Every encoding's day is the date of `ts`.
def daily_counts(spark, sf_dir, platform="politics", start=DEFAULT_START, end=DEFAULT_END):
    return (
        _in_window(spark, sf_dir, platform, start, end)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("count"))
        .orderBy("day")
    )


def all_routes(spark, sf_dir, start=DEFAULT_START, end=DEFAULT_END) -> dict[str, DataFrame]:
    """Every dashboard route, keyed like the Flask endpoints — the
    drop-in surface for a reference user. The page's summary is
    computed once, by the first route collected, and the twelve count
    and distribution routes read it. Adaptive execution is off while
    the summary is checkpointed: it would run the summary's shuffle
    stages right there, and building a page must run no job."""
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        summary = compute_once(page_summary(spark, sf_dir, start, end))
    out = {"politics_comments": politics_comments(spark, sf_dir, start, end)}
    for p in PLATFORMS:
        out[f"count_{p}"] = _count_of(summary, p)
        out[f"sentiment_{p}"] = _dist_of(summary, p, "sentiment")
        out[f"hate_{p}"] = _dist_of(summary, p, "is_hate_speech")
    out["daily_politics"] = daily_counts(spark, sf_dir, "politics", start, end)
    return out


# ------------------------------------------ oracle-checked registrations
# All 13 Flask routes (`app.py:34-265`) register with oracles. The SQL is
# built by the three helpers below so each platform's time-encoding quirk
# is written exactly once on the oracle side too.
_ENRICH_SQL = (
    "CASE WHEN value >= 100 THEN 'positive' WHEN value < 30 THEN 'negative' "
    "ELSE 'neutral' END AS sentiment, (value >= 150) AS is_hate_speech"
)


def _raw_sql(platform: str) -> str:
    et = PLATFORMS[platform]
    if platform == "chan":
        cols = (
            "CAST(event_id AS VARCHAR) AS postnumber, "
            "strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp"
        )
    elif platform == "youtube":
        cols = (
            "CAST(event_id AS VARCHAR) AS comment_id, "
            "strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS comment_time"
        )
    else:
        cols = "CAST(event_id AS VARCHAR) AS comment_id, ts AS created_utc"
    return f"SELECT {cols} FROM events WHERE event_type='{et}'"


def _count_oracle(platform: str, start: str = DEFAULT_START, end: str = DEFAULT_END) -> str:
    raw = _raw_sql(platform)
    if platform == "chan":  # DATE(timestamp) cast on TEXT, app.py:71
        pred = f"CAST(timestamp AS DATE) >= DATE '{start}' AND CAST(timestamp AS DATE) < DATE '{end}'"
    elif platform == "youtube":  # lexical TEXT compare, app.py:72
        pred = f"comment_time >= '{start}T00:00:00Z' AND comment_time < '{end}T00:00:00Z'"
    else:
        pred = (
            f"created_utc >= TIMESTAMP '{start} 00:00:00' "
            f"AND created_utc < TIMESTAMP '{end} 00:00:00'"
        )
    return f"WITH raw AS ({raw}) SELECT count(*) AS count FROM raw WHERE {pred}"


def _dist_oracle(platform: str, col: str, start: str = DEFAULT_START, end: str = DEFAULT_END) -> str:
    et = PLATFORMS[platform]
    key = "postnumber" if platform == "chan" else "comment_id"
    if platform == "chan":  # TO_CHAR(timestamp::date,...) BETWEEN, app.py:105,222
        cond = (
            "strftime(CAST(raw.timestamp AS DATE), '%Y-%m-%d') "
            f"BETWEEN '{start}' AND '{end}'"
        )
    elif platform == "youtube":  # lexical BETWEEN, app.py:152,244
        cond = f"raw.comment_time BETWEEN '{start}T00:00:00Z' AND '{end}T23:59:59Z'"
    else:  # native ts BETWEEN, app.py:109,175,198,265
        cond = (
            f"raw.created_utc BETWEEN TIMESTAMP '{start} 00:00:00' "
            f"AND TIMESTAMP '{end} 00:00:00'"
        )
    return (
        f"WITH raw AS ({_raw_sql(platform)}), "
        f"an AS (SELECT CAST(event_id AS VARCHAR) AS {key}, {_ENRICH_SQL} "
        f"FROM events WHERE event_type='{et}') "
        f"SELECT an.{col}, count(*) AS count FROM an JOIN raw USING ({key}) "
        f"WHERE {cond} GROUP BY an.{col}"
    )


@register(
    "dash_politics_comments",
    oracle=(
        f"WITH raw AS ({_raw_sql('politics')}) SELECT created_utc FROM raw "
        f"WHERE created_utc >= TIMESTAMP '{DEFAULT_START} 00:00:00' "
        f"AND created_utc < TIMESTAMP '{DEFAULT_END} 00:00:00' ORDER BY created_utc"
    ),
)
def dash_politics_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route 1 (`app.py:34-38`): politics comments in a half-open time
    range, ordered by comment time."""
    return politics_comments(spark, sf_dir)


def _register_platform_routes() -> None:
    """Routes 2-12 at the default window, one registration per family
    and platform, in the order count, sentiment, hate x reddit, chan,
    youtube, politics. Reference lines (`app.py`): counts 70, 71 (DATE()
    cast over the display TEXT), 72 (lexical compare on ISO TEXT),
    70/175; sentiment 109, 105, 152, 175; hate 198, 222, 244, 265."""

    def query(route, platform):
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            return route(spark, sf_dir, platform)

        return fn

    for family, route, col in (
        ("count", platform_count, None),
        ("sentiment", sentiment_distribution, "sentiment"),
        ("hate", hate_distribution, "is_hate_speech"),
    ):
        for p in PLATFORMS:
            oracle = _count_oracle(p) if col is None else _dist_oracle(p, col)
            register(f"dash_{family}_{p}", oracle=oracle)(query(route, p))


_register_platform_routes()


@register(
    "dash_daily_politics",
    oracle=(
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS count "
        "FROM events WHERE event_type = 'signup' "
        f"AND ts >= TIMESTAMP '{DEFAULT_START} 00:00:00' "
        f"AND ts < TIMESTAMP '{DEFAULT_END} 00:00:00' GROUP BY day ORDER BY day"
    ),
)
def dash_daily_politics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route 13 (`app.py:44-59`): the manual daily-count pandas loop as
    a single daily aggregation (the `count/10*5.5` trailing-day
    extrapolation is presentation-layer, deliberately dropped —
    SURVEY §7 risk register)."""
    return daily_counts(spark, sf_dir, "politics")


# ---------------------------------------- one-pass dashboard summary

def _summary_oracle(start: str = DEFAULT_START, end: str = DEFAULT_END) -> str:
    """Replays each route family's predicate over the platform's OWN
    time encoding (TEXT casts and lexical compares included), so the
    summary's ts-native predicates are independently cross-checked.
    As in the route oracles, count cells count the raw rows
    (`_count_oracle`) and distribution cells count the enriched-JOIN-
    raw rows (`_dist_oracle`), so a redelivered id weighs the same here
    as in the routes."""
    branches = []
    for p in PLATFORMS:
        raw = _raw_sql(p)
        # the raw table plus each row's own enrichment (count cells)
        raw_enriched = raw.replace(" FROM events", f", {_ENRICH_SQL} FROM events", 1)
        if p == "chan":
            key = "postnumber"
            in_count = (
                f"CAST(r.timestamp AS DATE) >= DATE '{start}' "
                f"AND CAST(r.timestamp AS DATE) < DATE '{end}'"
            )
            in_dist = (
                f"strftime(CAST(r.timestamp AS DATE), '%Y-%m-%d') "
                f"BETWEEN '{start}' AND '{end}'"
            )
        elif p == "youtube":
            key = "comment_id"
            in_count = (
                f"r.comment_time >= '{start}T00:00:00Z' "
                f"AND r.comment_time < '{end}T00:00:00Z'"
            )
            in_dist = (
                f"r.comment_time BETWEEN '{start}T00:00:00Z' "
                f"AND '{end}T23:59:59Z'"
            )
        else:
            key = "comment_id"
            in_count = (
                f"r.created_utc >= TIMESTAMP '{start} 00:00:00' "
                f"AND r.created_utc < TIMESTAMP '{end} 00:00:00'"
            )
            in_dist = (
                f"r.created_utc BETWEEN TIMESTAMP '{start} 00:00:00' "
                f"AND TIMESTAMP '{end} 00:00:00'"
            )
        branches.append(
            f"SELECT '{p}' AS platform, r.sentiment, r.is_hate_speech, 1 AS c, 0 AS d "
            f"FROM ({raw_enriched}) r WHERE {in_count}"
        )
        branches.append(
            f"SELECT '{p}' AS platform, an.sentiment, an.is_hate_speech, 0 AS c, 1 AS d "
            f"FROM ({raw}) r JOIN (SELECT CAST(event_id AS VARCHAR) AS {key}, "
            f"{_ENRICH_SQL} FROM events WHERE event_type='{PLATFORMS[p]}') an "
            f"USING ({key}) WHERE {in_dist}"
        )
    u = " UNION ALL ".join(branches)
    return (
        f"WITH plat AS ({u}) "
        "SELECT platform, sentiment, is_hate_speech, "
        "CAST(sum(c) AS BIGINT) AS n_count_window, "
        "CAST(sum(d) AS BIGINT) AS n_dist_window "
        "FROM plat GROUP BY GROUPING SETS ((platform), (platform, sentiment), "
        "(platform, is_hate_speech))"
    )


@register("dash_summary_onepass", oracle=_summary_oracle())
def dash_summary_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE per-platform dashboard in ONE query: `page_summary`
    at the default window — all four count routes and all eight
    distribution routes (`app.py:64-265`) from one scan, where the
    reference serves 12 SQL round trips per page load. Grouping-set
    rows: (platform) carries the count-route number in n_count_window;
    (platform, sentiment) and (platform, is_hate_speech) carry the
    distribution numbers in n_dist_window."""
    return page_summary(spark, sf_dir).select(
        "platform",
        "sentiment",
        "is_hate_speech",
        F.col("n_count").alias("n_count_window"),
        F.col("n_dist").alias("n_dist_window"),
    )
