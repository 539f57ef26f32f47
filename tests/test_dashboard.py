"""The reference dashboard's 13 routes as engine calls (app.py parity
surface): every route runs, and the per-encoding quirks hold."""

from __future__ import annotations

import pytest

from social_media_data_pipeline_recession_political_sentiment_spark import dashboard
from tests.conftest import SF_SMOKE


def test_all_routes_run(spark):
    routes = dashboard.all_routes(spark, SF_SMOKE)
    assert len(routes) == 14  # 1 scan + 4 counts + 4 sentiment + 4 hate + 1 daily
    for name, df in routes.items():
        assert df.count() >= 0, name  # executes without error


def test_counts_agree_across_encodings(spark):
    """The three time encodings select the same rows for aligned
    bounds: a platform's count via its encoding equals the native-ts
    count over the same window."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load

    start, end = dashboard.DEFAULT_START, dashboard.DEFAULT_END
    for platform in ("chan", "youtube"):
        got = dashboard.platform_count(spark, SF_SMOKE, platform, start, end).collect()[0][
            "count"
        ]
        want = (
            load(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == dashboard.PLATFORMS[platform])
            .filter(
                (F.col("ts") >= F.lit(start).cast("timestamp"))
                & (F.col("ts") < F.lit(end).cast("timestamp"))
            )
            .count()
        )
        assert got == want, (platform, got, want)


def test_sentiment_buckets_partition_rows(spark):
    out = dashboard.sentiment_distribution(spark, SF_SMOKE, "reddit").collect()
    assert {r.sentiment for r in out} <= {"positive", "negative", "neutral"}
    assert sum(r["count"] for r in out) > 0


def test_daily_counts_respects_platform(spark):
    """daily_counts(platform) must aggregate THAT platform's rows
    (regression: it used to always return politics data)."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load

    start, end = dashboard.DEFAULT_START, dashboard.DEFAULT_END
    for platform in ("politics", "reddit", "chan", "youtube"):
        rows = dashboard.daily_counts(spark, SF_SMOKE, platform, start, end).collect()
        want = (
            load(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == dashboard.PLATFORMS[platform])
            .filter(
                (F.col("ts") >= F.lit(start).cast("timestamp"))
                & (F.col("ts") < F.lit(end).cast("timestamp"))
            )
            .count()
        )
        assert sum(r["count"] for r in rows) == want, (platform, want)
        days = [r["day"] for r in rows]
        assert days == sorted(days)


def test_summary_onepass_reconciles_all_twelve_routes(spark):
    """dash_summary_onepass: every cell equals the corresponding
    individual route's number — 4 count routes and 8 distribution
    routes reproduced from one scan."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    qs = queries()
    rows = qs["dash_summary_onepass"](spark, SF_SMOKE).collect()
    cells = {
        (r.platform, r.sentiment, r.is_hate_speech): (r.n_count_window, r.n_dist_window)
        for r in rows
    }
    for p in ("reddit", "chan", "youtube", "politics"):
        (cnt_row,) = qs[f"dash_count_{p}"](spark, SF_SMOKE).collect()
        assert cells[(p, None, None)][0] == cnt_row["count"], p
        sent = {r.sentiment: r["count"] for r in qs[f"dash_sentiment_{p}"](spark, SF_SMOKE).collect()}
        for s, n in sent.items():
            assert cells[(p, s, None)][1] == n, (p, s)
        # summary emits no cell for sentiments absent in the window
        assert {k[1] for k in cells if k[0] == p and k[1] is not None} == set(sent)
        hate = {r.is_hate_speech: r["count"] for r in qs[f"dash_hate_{p}"](spark, SF_SMOKE).collect()}
        for h, n in hate.items():
            assert cells[(p, None, h)][1] == n, (p, h)


# ------------------------------------------- written edge-case fixture
# Every window edge of every fixture window, for every platform: a row
# sub-second before start, at start, just before end, at end 00:00:00,
# at end 23:59:59, sub-second after it and at the next midnight. Each
# edge row's id is also redelivered unchanged, redelivered with a
# changed payload (another time and value), or NULL; `value` cycles
# through every sentiment and hate bucket and NULL.
WINDOWS = [
    ("2024-01-10", "2024-01-11"),  # 1 day
    ("2024-01-05", "2024-01-25"),  # 20 days, the default window
    ("2024-01-20", "2024-02-01"),  # ends on a month boundary
    ("2024-03-01", "2024-03-02"),  # no rows: counts are 0, dists empty
]


def _write_fixture(path) -> str:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    edges = [
        dt.timedelta(seconds=-0.5),
        dt.timedelta(0),
        dt.timedelta(microseconds=-1),  # from here on relative to end
        dt.timedelta(days=0),  # end 00:00:00
        dt.timedelta(hours=23, minutes=59, seconds=59),
        dt.timedelta(hours=23, minutes=59, seconds=59.5),
        dt.timedelta(days=1),
    ]
    values = [10.0, 50.0, 120.0, 160.0, None]
    rows = []  # (event_id, ts, event_type, value)
    n = 0
    for et in dashboard.PLATFORMS.values():
        for start, end in WINDOWS[:3]:
            s, e = dt.datetime.fromisoformat(start), dt.datetime.fromisoformat(end)
            for i, d in enumerate(edges):
                ts = (s if i < 2 else e) + d
                n += 1
                v = values[n % len(values)]
                kind = n % 4
                if kind == 3:  # NULL id
                    rows.append((None, ts, et, v))
                    continue
                rows.append((n, ts, et, v))
                if kind == 1:  # redelivered unchanged
                    rows.append((n, ts, et, v))
                elif kind == 2:  # same id, changed time and payload
                    rows.append((n, ts + dt.timedelta(days=3), et, values[(n + 2) % 5]))
    rows.append((1, dt.datetime(2024, 1, 12), "error", 120.0))  # a click id, as 4chan's
    rows.append((n + 1, None, "click", 120.0))  # NULL ts
    rows.append((n + 2, dt.datetime(2024, 1, 12), "other", 120.0))  # no platform
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(cols[2], pa.string()),
            "value": pa.array(cols[3], pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, f"{path}/events.parquet")
    return str(path)


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return _write_fixture(tmp_path_factory.mktemp("dash_edges"))


def _norm(cols, rows):
    """Order-insensitive (column names, rows) with values as strings."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple("NULL" if r[i] is None else str(r[i]) for i in order) for r in rows),
    )


def _route_oracle(route: str, start: str, end: str) -> str:
    if route == "politics_comments":
        return (
            f"WITH raw AS ({dashboard._raw_sql('politics')}) SELECT created_utc "
            f"FROM raw WHERE created_utc >= TIMESTAMP '{start} 00:00:00' "
            f"AND created_utc < TIMESTAMP '{end} 00:00:00'"
        )
    if route == "daily_politics":
        return (
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS count "
            "FROM events WHERE event_type = 'signup' "
            f"AND ts >= TIMESTAMP '{start} 00:00:00' "
            f"AND ts < TIMESTAMP '{end} 00:00:00' GROUP BY day"
        )
    kind, platform = route.split("_", 1)
    if kind == "count":
        return dashboard._count_oracle(platform, start, end)
    col = "sentiment" if kind == "sentiment" else "is_hate_speech"
    return dashboard._dist_oracle(platform, col, start, end)


def test_routes_match_oracles_on_duplicate_and_null_keys(spark, edge_dir):
    """Every `all_routes` route equals its DuckDB oracle over each
    window of the edge fixture, and `dash_summary_onepass` equals
    `_summary_oracle`: the one-scan page reproduces the reference's
    self-join (a redelivered id counts once per in-window copy, a NULL
    id never joins) and its three time encodings at every edge."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{edge_dir}/events.parquet'")

    def want(sql):
        res = con.sql(sql)
        return _norm(list(res.columns), res.fetchall())

    for start, end in WINDOWS:
        for route, df in dashboard.all_routes(spark, edge_dir, start, end).items():
            got = _norm(df.columns, df.collect())
            assert got == want(_route_oracle(route, start, end)), (route, start, end)
    summary = dashboard.dash_summary_onepass(spark, edge_dir)
    assert _norm(summary.columns, summary.collect()) == want(dashboard._summary_oracle())
    con.close()


def _job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_all_routes_builds_without_a_job(spark):
    """Building a page only plans it; the first route collected runs
    the page summary."""
    dashboard.all_routes(spark, SF_SMOKE)  # warm the table's load memo
    sc = spark.sparkContext
    sc.setJobGroup("dash_build_lazy", "all_routes build")
    try:
        routes = dashboard.all_routes(spark, SF_SMOKE, "2024-01-03", "2024-01-09")
        assert _job_count(spark, "dash_build_lazy") == 0
        routes["count_reddit"].collect()
        assert _job_count(spark, "dash_build_lazy") > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_page_summaries_are_released_after_gc(spark):
    """Each page's summary is a compute_once checkpoint; once its
    routes are dropped, a GC releases its cached partitions, so a long
    session's storage stays bounded."""
    import gc
    import time

    sc = spark.sparkContext

    def cached() -> int:
        return sum(i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo())

    def load_page(i: int) -> None:
        for df in dashboard.all_routes(spark, SF_SMOKE, f"2024-01-{1 + i % 20:02d}", "2024-01-25").values():
            df.collect()

    gc.collect()
    before = cached()
    for i in range(24):
        load_page(i)
    for _ in range(40):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
        if cached() <= before + 3:
            break
    assert cached() <= before + 3
