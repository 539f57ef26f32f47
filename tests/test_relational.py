"""Exact REF semantics of the relational core on micro-fixtures
(FIXTURES.md §B): boundary behavior the oracle comparison can't
single out."""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

from social_media_data_pipeline_recession_political_sentiment_spark import registry
from tests.conftest import SF_SMOKE


def ts(s):
    return dt.datetime.fromisoformat(s)


def comments_fixture(spark):
    # mirrors comments_for_reddits (Reddit.py:151-161)
    rows = [
        ("economy", "p1", "body a", 1, ts("2024-01-01 00:00:00"), "c1"),
        ("economy", "p1", "body b", 2, ts("2024-01-01 23:59:59"), "c2"),
        ("jobs", "p2", "body c", 3, ts("2024-01-02 00:00:00"), "c3"),  # == hi boundary
        ("jobs", "p2", "body d", 4, ts("2024-01-02 00:00:01"), "c4"),
        ("jobs", "p2", "body d2", 5, ts("2024-01-03 00:00:00"), "c4"),  # dup key, later
    ]
    return spark.createDataFrame(
        rows,
        "subreddit string, post_id string, body string, score int, "
        "created_utc timestamp, comment_id string",
    )


def test_half_open_time_range(spark):
    """ts >= lo AND ts < hi: lo inclusive, hi exclusive (app.py:34-38)."""
    df = comments_fixture(spark)
    out = df.filter(
        (F.col("created_utc") >= "2024-01-01 00:00:00")
        & (F.col("created_utc") < "2024-01-02 00:00:00")
    )
    assert {r.comment_id for r in out.collect()} == {"c1", "c2"}


def test_between_inclusive(spark):
    """BETWEEN is inclusive on both ends (app.py:105 etc.)."""
    df = comments_fixture(spark)
    out = df.filter(F.col("created_utc").between("2024-01-01 23:59:59", "2024-01-02 00:00:00"))
    assert {r.comment_id for r in out.collect()} == {"c2", "c3"}


def test_anti_join_dedup_keeps_unseen_only(spark):
    """The existence-probe semantics (Reddit.py:75-80): a batch row
    whose key is already in the sink is dropped."""
    batch = comments_fixture(spark)
    existing = spark.createDataFrame([("c1",), ("c4",)], "comment_id string")
    out = batch.join(existing, "comment_id", "left_anti")
    assert sorted(r.comment_id for r in out.collect()) == ["c2", "c3"]


def test_window_rank_latest_picks_latest(spark):
    """Deterministic latest-per-key replaces order-dependent
    first-seen (SURVEY §2.5 window_rank_latest)."""
    from pyspark.sql import Window as W

    df = comments_fixture(spark)
    w = W.partitionBy("comment_id").orderBy(F.desc("created_utc"))
    out = df.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    c4 = [r for r in out.collect() if r.comment_id == "c4"][0]
    assert c4.body == "body d2"  # the later row wins
    assert out.count() == 4


def test_lexical_between_on_text_timestamps(spark):
    """yt_comments.comment_time is TEXT compared lexically with
    BETWEEN (app.py:152,244) — ISO-8601 strings sort correctly,
    which is WHY the reference gets away with it."""
    rows = [
        ("v1", "c1", "2024-01-01T10:00:00Z"),
        ("v1", "c2", "2024-01-02T09:59:59Z"),
        ("v1", "c3", "2024-01-02T10:00:00Z"),
    ]
    df = spark.createDataFrame(rows, "video_id string, comment_id string, comment_time string")
    out = df.filter(F.col("comment_time").between("2024-01-01T00:00:00Z", "2024-01-02T09:59:59Z"))
    assert {r.comment_id for r in out.collect()} == {"c1", "c2"}


def test_approx_distinct_close_to_exact(spark):
    """The query is self-validating: exact count matches a direct
    distinct count and the HLL-within-5% flag holds."""
    q = registry.queries()["agg_approx_distinct"]
    row = q(spark, SF_SMOKE).collect()[0]
    exact = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("user_id").distinct().count()
    )
    assert row.exact_users == exact
    assert row.approx_ok


def test_topk_deterministic_under_ties(spark):
    """Same counts => the key tiebreak decides; two runs agree."""
    q = registry.queries()["agg_topk_groups"]
    a = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    b = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    assert a == b and len(a) == 10


def test_range_join_rewrite_and_fallback(spark):
    """Non-overlapping intervals take the equi-join rewrite; overlapping
    intervals fall back to the theta-join and can multi-match — both
    agree with a naive python evaluation."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        range_join,
    )

    fact = spark.createDataFrame([(i, float(v)) for i, v in enumerate([5, 50, 99, 150])],
                                 "id long, value double")
    disjoint = [("a", 0.0, 50.0), ("b", 50.0, 100.0), ("c", 100.0, 200.0)]
    got = {(r.id, r.bucket) for r in range_join(fact, "value", disjoint).collect()}
    assert got == {(0, "a"), (1, "b"), (2, "b"), (3, "c")}

    overlapping = [("x", 0.0, 100.0), ("y", 40.0, 160.0)]
    got = {(r.id, r.bucket) for r in range_join(fact, "value", overlapping).collect()}
    assert got == {(0, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "y")}


def test_cube_contains_grand_total(spark):
    """cube() emits the grand-total row (both keys NULL) equal to the
    table count, and per-type subtotals sum to it."""
    out = registry.queries()["agg_cube"](spark, SF_SMOKE).collect()
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    grand = [r for r in out if r.event_type is None and r.high_value is None]
    assert len(grand) == 1 and grand[0].cnt == total
    per_type = sum(r.cnt for r in out if r.event_type is not None and r.high_value is None)
    assert per_type == total


def test_bucketed_join_has_no_shuffle_below_join(spark):
    """The bucketed layout must satisfy the join's distribution
    requirement: no Exchange between the bucketed scans and the
    SortMergeJoin."""
    import io
    import contextlib

    df = registry.queries()["join_bucketed_colocated"](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # guard first: if Catalyst ever picks a different join, fail with
    # the real regression, not an IndexError from the slicing below
    assert "SortMergeJoin" in plan, f"expected SortMergeJoin, plan:\n{plan}"
    m = re.search(r"SortMergeJoin(.*?)\(\d+\) Scan", plan, re.DOTALL)
    assert m, f"no scan section under the join, plan:\n{plan}"
    assert "Exchange" not in m.group(1)


def test_rollup_grand_total_consistent(spark):
    """ROLLUP hierarchy: the grand-total row equals the sum of the
    per-source subtotal rows, which equals the sum of the leaves."""
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["agg_rollup"](spark, SF_SMOKE).collect()
    grand = [r for r in rows if r.source is None and r.lang is None]
    per_source = [r for r in rows if r.source is not None and r.lang is None]
    leaves = [r for r in rows if r.source is not None and r.lang is not None]
    assert len(grand) == 1
    assert grand[0].n_docs == sum(r.n_docs for r in per_source) == sum(
        r.n_docs for r in leaves
    )
    assert grand[0].total_chars == sum(r.total_chars for r in leaves)


def test_lag_delta_nonnegative_and_null_first(spark):
    """Each user's first event has NULL gap; all others are >= 0
    because the window orders by ts."""
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["window_lag_delta"](spark, SF_SMOKE).collect()
    users = {}
    nulls = 0
    for r in rows:
        users.setdefault(r.user_id, 0)
        users[r.user_id] += 1
        if r.gap_us is None:
            nulls += 1
        else:
            assert r.gap_us >= 0
    assert nulls == len(users)  # exactly one NULL (the first event) per user


def test_salted_join_matches_plain_join(spark):
    """Salting is execution detail: result set equals the unsalted
    join, and the join exchange is keyed on (event_type, salt)."""
    from tests.conftest import SF_SMOKE

    out = registry.queries()["join_salted_skew"](spark, SF_SMOKE)
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    dim = e.groupBy("event_type").agg(F.max("value").alias("type_max"))
    plain = e.join(dim, "event_type").select(
        "event_id",
        "event_type",
        "type_max",
        (F.col("value") > F.lit(0.5) * F.col("type_max")).alias("above_half"),
    )
    assert out.count() == plain.count()
    assert out.exceptAll(plain).count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan and "ShuffledHashJoin" in plan


def test_hourly_heatmap_cells_and_conservation(spark):
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["agg_hourly_heatmap"](spark, SF_SMOKE).collect()
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(r.cnt for r in rows) == total
    assert all(0 <= r.dow <= 6 and 0 <= r.hour <= 23 for r in rows)
    assert len(rows) <= 168


def test_semi_join_no_duplication_and_membership(spark):
    """Semi join emits each qualifying order exactly once, regardless
    of how many lineitems match."""
    from tests.conftest import SF_SMOKE

    out = registry.queries()["join_semi_exists"](spark, SF_SMOKE)
    assert out.count() == out.select("o_orderkey").distinct().count()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").filter("l_quantity >= 45")
    qualifying = {r.l_orderkey for r in li.select("l_orderkey").distinct().collect()}
    orders = {r.o_orderkey for r in
              spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select("o_orderkey").collect()}
    assert {r.o_orderkey for r in out.collect()} == qualifying & orders


def test_running_total_monotone_and_ends_at_total(spark):
    from tests.conftest import SF_SMOKE

    rows = sorted(
        registry.queries()["agg_running_total"](spark, SF_SMOKE).collect(),
        key=lambda r: r.day,
    )
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    acc = 0
    for r in rows:
        acc += r.cnt
        assert r.running == acc
    assert acc == total


def test_multihop_topk_ordered_and_bounded(spark):
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["join_multihop_topk"](spark, SF_SMOKE).collect()
    assert len(rows) <= 10
    revs = [r.revenue_cents for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r.revenue_cents > 0 for r in rows)


def test_pivot_matrix_conserves_events(spark):
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["agg_pivot_matrix"](spark, SF_SMOKE).collect()
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    cols = ["click", "error", "purchase", "signup", "view"]
    assert sum(sum(r[c] for c in cols) for r in rows) == total
    assert all(all(r[c] >= 0 for c in cols) for r in rows)


def test_unpivot_roundtrips_pivot(spark):
    from tests.conftest import SF_SMOKE

    wide = registry.queries()["agg_pivot_matrix"](spark, SF_SMOKE)
    tidy = registry.queries()["agg_unpivot_long"](spark, SF_SMOKE)
    assert tidy.count() == wide.count() * 5
    wide_total = sum(
        sum(r[c] for c in ("click", "error", "purchase", "signup", "view"))
        for r in wide.collect()
    )
    assert sum(r.cnt for r in tidy.collect()) == wide_total


def test_moving_range_includes_self_and_is_bounded(spark):
    from tests.conftest import SF_SMOKE

    rows = registry.queries()["window_moving_range"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_6h >= 1  # the frame always contains the current row
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    total = e.count()
    assert len(rows) == total
    # an event ALONE in its 6h window (n_6h == 1) carries exactly its
    # own cents — engine-side round/cast so the reference values use
    # the same HALF_UP rounding as the operator
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import (
        load as cat_load,
    )

    own_cents = {
        r.event_id: r.cents
        for r in cat_load(spark, SF_SMOKE, "events")
        .select(
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    }
    lonely = [r for r in rows if r.n_6h == 1]
    assert lonely, "fixture has no event alone in its 6h window"
    for r in lonely:
        assert r.cents_6h == own_cents[r.event_id]


def test_interval_overlap_matches_naive_join(spark):
    from tests.conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        IVL_LEN_US,
    )

    out = registry.queries()["join_interval_overlap"](spark, SF_SMOKE)
    rows = out.collect()
    # binned result == naive theta join, pairwise unique, bounded overlap
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    a = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"), F.unix_micros("ts").alias("sa")
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"), F.unix_micros("ts").alias("sb")
    )
    naive = a.crossJoin(b).filter(
        (F.col("sa") <= F.col("sb") + IVL_LEN_US)
        & (F.col("sb") <= F.col("sa") + IVL_LEN_US)
    )
    assert {(r.a_id, r.b_id) for r in rows} == {
        (r.a_id, r.b_id) for r in naive.collect()
    }
    assert len(rows) == len({(r.a_id, r.b_id) for r in rows})  # no dup pairs
    for r in rows:
        assert 0 <= r.overlap_us <= IVL_LEN_US


def test_batch_sessionize_equals_session_window_form(spark):
    """agg_sessionize_batch (gaps-and-islands) must reproduce
    stream_sessionize (native session_window) session-for-session.
    The two split exact-boundary gaps differently (> vs >= the 30-min
    gap, session_window ends being exclusive), so first prove the
    fixture has no exactly-30-minute gap — then the equivalence is
    exact, not coincidental."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        SESSION_GAP_US,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load

    e = load(spark, SF_SMOKE, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    boundary = (
        e.select(
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap")
        )
        .filter(F.col("gap") == SESSION_GAP_US)
        .count()
    )
    assert boundary == 0, "fixture has an exact-boundary gap; test is void"

    batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in queries()["agg_sessionize_batch"](spark, SF_SMOKE).collect()
    }
    stream = {
        (
            r.user_id,
            int(r.session_start.timestamp() * 1_000_000),
            int(r.session_end.timestamp() * 1_000_000),
            r.n_events,
        )
        for r in queries()["stream_sessionize"](spark, SF_SMOKE).collect()
    }
    assert batch == stream


def test_funnel_is_monotone_and_strictly_ordered(spark):
    """Funnel invariants: step counts never grow down the funnel, the
    first step's conversion is exactly 1.0, and a hand-built fixture
    proves strict ordering (a purchase BEFORE the click must not
    count, same-timestamp events must not count)."""
    from tests.conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = sorted(
        queries()["agg_funnel_steps"](spark, SF_SMOKE).collect(),
        key=lambda r: r.step_ix,
    )
    assert [r.step for r in rows] == ["view", "click", "purchase"]
    assert rows[0].conversion == 1.0
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users

    # strict-order fixture: user 1 converts fully; user 2's purchase
    # precedes the click; user 3's click shares the view's timestamp
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ev = [
        (1, "view", 0), (1, "click", 10), (1, "purchase", 20),
        (2, "view", 0), (2, "purchase", 5), (2, "click", 10),
        (3, "view", 0), (3, "click", 0),
    ]
    df = spark.createDataFrame(
        [(i, u, t, base + dt.timedelta(minutes=m)) for i, (u, t, m) in enumerate(ev)],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    from pyspark.sql import functions as F

    e = df.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    s1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("us").alias("t1"))
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id").filter(F.col("us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id").filter(F.col("us") > F.col("t2"))
        .groupBy("user_id").agg(F.min("us").alias("t3"))
    )
    assert {r.user_id for r in s1.collect()} == {1, 2, 3}
    assert {r.user_id for r in s2.collect()} == {1, 2}  # user 3: same-ts click
    assert {r.user_id for r in s3.collect()} == {1}  # user 2: purchase too early


def test_retention_matrix_reconciles(spark):
    """Retention invariants: day 0 retention is exactly 1.0 for every
    cohort, cohort sizes sum to the distinct user count, offsets are
    non-negative, and n_active never exceeds cohort_size."""
    from tests.conftest import SF_SMOKE

    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["agg_retention_cohorts"](spark, SF_SMOKE).collect()
    assert rows
    day0 = {r.cohort_date: r for r in rows if r.day_offset == 0}
    cohorts = {r.cohort_date for r in rows}
    assert set(day0) == cohorts  # every cohort has its day-0 row
    for r in day0.values():
        assert r.n_active == r.cohort_size and r.retention == 1.0
    n_users = duckdb.sql(
        f"SELECT count(DISTINCT user_id) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    assert sum(r.cohort_size for r in day0.values()) == n_users
    for r in rows:
        assert r.day_offset >= 0
        assert 0 < r.n_active <= r.cohort_size


def test_rolling_wau_reconciles_with_dau(spark):
    """WAU invariants: wau >= dau for every day, wau >= max dau over
    the trailing 7 days, wau never exceeds the total user count, and
    a 1-day 'window' degenerate check — each day's wau equals the
    NumPy-set recomputation from raw (user, day) activity."""
    from tests.conftest import SF_SMOKE

    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = {r.day: (r.dau, r.wau) for r in queries()["agg_rolling_wau"](spark, SF_SMOKE).collect()}
    assert rows
    act = duckdb.sql(
        f"SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) "
        f"FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    by_day: dict = {}
    for u, d in act:
        by_day.setdefault(d, set()).add(u)
    n_users = len({u for u, _ in act})
    import datetime as dt

    for day, (dau, wau) in rows.items():
        assert dau == len(by_day[day])
        window_users = set()
        for off in range(7):
            window_users |= by_day.get(day - dt.timedelta(days=off), set())
        assert wau == len(window_users), day
        assert dau <= wau <= n_users
    assert set(rows) == set(by_day)


def test_ingest_anomaly_cold_start_and_zscore_replication(spark):
    """Anomaly invariants: the first 7 days per type never flag (cold
    start), z replicates the NumPy computation from the emitted daily
    counts exactly, and flags fire iff |z| > 2."""
    from tests.conftest import SF_SMOKE

    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        ANOMALY_LOOKBACK,
        ANOMALY_Z,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["agg_ingest_anomaly"](spark, SF_SMOKE).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.day)
        counts = [r.n for r in rs]
        for i, r in enumerate(rs):
            if i < ANOMALY_LOOKBACK:
                assert r.z is None and not r.is_anomaly, (et, r.day)
                continue
            window = np.array(counts[i - ANOMALY_LOOKBACK : i], dtype=np.float64)
            mean = window.sum() / ANOMALY_LOOKBACK
            var = (window**2).sum() / ANOMALY_LOOKBACK - mean * mean
            if var > 0:
                z = (r.n - mean) / np.sqrt(var)
                assert r.z is not None
                assert abs(r.z - z) < 1e-9, (et, r.day)
                assert r.is_anomaly == (abs(r.z) > ANOMALY_Z)
            else:
                assert r.z is None and not r.is_anomaly


def test_ewma_matches_independent_sequential_recompute(spark):
    """agg_ewma_volume: recompute the integer recurrence sequentially
    from independently-aggregated daily counts and require bit
    equality; first day must carry n * 1e6 exactly."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        EWMA_ALPHA_PCT,
        EWMA_MICRO,
    )

    rows = registry.queries()["agg_ewma_volume"](spark, SF_SMOKE).collect()
    assert rows
    daily = {}
    for r in (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .count()
        .collect()
    ):
        daily.setdefault(r.event_type, {})[r.day] = r["count"]
    got = {(r.event_type, r.day): (r.n, r.ewma_micros) for r in rows}
    assert len(got) == sum(len(v) for v in daily.values())
    for et, series in daily.items():
        s = 0
        for i, day in enumerate(sorted(series)):
            n = series[day]
            if i == 0:
                s = n * EWMA_MICRO
            else:
                s = (EWMA_ALPHA_PCT * n * EWMA_MICRO + (100 - EWMA_ALPHA_PCT) * s) // 100
            assert got[(et, day)] == (n, s), (et, day)


def test_asof_nearest_picks_minimal_gap_with_backward_ties(spark):
    """join_asof_nearest: every event's snapshot is the true nearest
    6-hourly snapshot of its type (python bisect reference), with
    ties and exact hits resolved backward."""
    import bisect

    rows = registry.queries()["join_asof_nearest"](spark, SF_SMOKE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()

    def micros(ts):
        return (
            int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
            + ts.microsecond
        )

    snaps = {}
    for r in ev:
        t = micros(r.ts) // 1_000_000
        snaps.setdefault(r.event_type, set()).add(t // 21600 * 21600 * 1_000_000)
    snaps = {k: sorted(v) for k, v in snaps.items()}
    ts_by_id = {r.event_id: micros(r.ts) for r in ev}
    for r in rows:
        t = ts_by_id[r.event_id]
        s = snaps[r.event_type]
        i = bisect.bisect_right(s, t)
        back = s[i - 1]  # floor snapshot always exists (derived from ts)
        fwd = s[i] if i < len(s) else None
        if fwd is None or t - back <= fwd - t:
            expect = back
        else:
            expect = fwd
        assert micros(r.snap_ts) == expect, r.event_id
    # fixture exercises both directions
    got = {micros(r.snap_ts) - ts_by_id[r.event_id] > 0 for r in rows}
    assert got == {True, False}


def test_dedup_recent_matches_sequential_gap_scan(spark):
    """window_dedup_recent: recompute the retry flag from per-(user,
    type) sorted sequences and require equality; both flag values
    must occur in the fixture."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        RETRY_WINDOW_S,
    )

    rows = registry.queries()["window_dedup_recent"](spark, SF_SMOKE).collect()
    got = {r.event_id: r.is_retry for r in rows}
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    seqs = {}
    for r in ev:
        seqs.setdefault((r.user_id, r.event_type), []).append(
            (int(r.ts.timestamp()), r.event_id)
        )
    expect = {}
    for seq in seqs.values():
        seq.sort()
        for i, (t, eid) in enumerate(seq):
            expect[eid] = i > 0 and t - seq[i - 1][0] <= RETRY_WINDOW_S
    assert got == expect
    assert set(got.values()) == {True, False}


def test_time_spine_fill_is_dense_and_conserving(spark):
    """agg_time_spine_fill: the grid is exactly types × contiguous
    hours, gap rows are zero, and the non-zero cells conserve the
    corpus event count."""
    rows = registry.queries()["agg_time_spine_fill"](spark, SF_SMOKE).collect()
    assert rows
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    total = e.count()
    assert sum(r.n for r in rows) == total
    types = {r.event_type for r in rows}
    hours = sorted({r.hour_ts for r in rows})
    assert len(rows) == len(types) * len(hours)
    for a, b in zip(hours, hours[1:]):
        assert (b - a).total_seconds() == 3600  # contiguous spine
    assert any(r.n == 0 for r in rows)  # fixture has real gaps


def test_user_lifetime_invariants_and_sample_recompute(spark):
    """agg_user_lifetime: per-user facts reconcile with a python
    recompute and satisfy the structural inequalities."""
    rows = registry.queries()["agg_user_lifetime"](spark, SF_SMOKE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.ts)
    assert len(rows) == len(by_user)
    for r in rows:
        ts = by_user[r.user_id]
        assert r.first_ts == min(ts) and r.last_ts == max(ts)
        assert r.n_events == len(ts)
        assert r.active_days == len({t.date() for t in ts})
        assert r.lifetime_days == (max(ts).date() - min(ts).date()).days
        assert r.active_days <= r.lifetime_days + 1
        assert r.n_events >= r.active_days


def test_interevent_gap_profile_recompute(spark):
    """agg_interevent_gap: gaps recomputed sequentially per type must
    reproduce count/max exactly and the percentiles via the sorted
    linear-interpolation rule."""
    rows = registry.queries()["agg_interevent_gap"](spark, SF_SMOKE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()

    def us(ts):
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + ts.microsecond

    seq = {}
    for r in ev:
        seq.setdefault(r.event_type, []).append((us(r.ts), r.event_id))

    def q(vals, p):
        vals = sorted(vals)
        k = (len(vals) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(vals) - 1)
        return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)

    for r in rows:
        s = sorted(seq[r.event_type])
        gaps = [b[0] - a[0] for a, b in zip(s, s[1:])]
        assert r.n_gaps == len(gaps)
        assert r.max_gap_us == max(gaps)
        assert abs(r.p50_gap_us - q(gaps, 0.5)) < 1e-6 * max(1, q(gaps, 0.5))
        assert abs(r.p95_gap_us - q(gaps, 0.95)) < 1e-6 * max(1, q(gaps, 0.95))


def test_asof_tolerance_nulls_stale_matches(spark):
    """join_asof_tolerance: fresh rows carry the same snapshot as
    join_asof; stale rows (gap > TTL) are NULLed with fresh=False,
    and the fixture exercises both."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        ASOF_TOLERANCE_S,
    )

    tol = {r.event_id: r for r in registry.queries()["join_asof_tolerance"](spark, SF_SMOKE).collect()}
    plain = {r.event_id: r for r in registry.queries()["join_asof"](spark, SF_SMOKE).collect()}
    ev = {r.event_id: r.ts for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()}
    assert set(tol) == set(plain)
    seen = set()
    for eid, r in tol.items():
        gap = (ev[eid] - plain[eid].snap_ts).total_seconds()
        fresh = gap <= ASOF_TOLERANCE_S
        seen.add(fresh)
        assert r.fresh == fresh
        if fresh:
            assert r.snap_ts == plain[eid].snap_ts and r.snap_max == plain[eid].snap_max
        else:
            assert r.snap_ts is None and r.snap_max is None
    assert seen == {True, False}


def test_event_transitions_conserve_and_match_recompute(spark):
    """agg_event_transitions: total transitions = events - users with
    events, and the matrix equals a python recompute."""
    rows = registry.queries()["agg_event_transitions"](spark, SF_SMOKE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    seq = {}
    for r in ev:
        seq.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    expect = {}
    for s in seq.values():
        s.sort()
        for a, b in zip(s, s[1:]):
            k = (a[2], b[2])
            expect[k] = expect.get(k, 0) + 1
    assert {(r.from_type, r.to_type): r.n for r in rows} == expect
    assert sum(r.n for r in rows) == len(ev) - len(seq)


def test_user_gini_matches_python_formula(spark):
    """agg_user_gini: the coefficient equals the closed-form python
    recompute and sits in [0, 1)."""
    (row,) = registry.queries()["agg_user_gini"](spark, SF_SMOKE).collect()
    counts = sorted(
        r["count"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .count()
        .collect()
    )
    n, tot = len(counts), sum(counts)
    wsum = sum((i + 1) * x for i, x in enumerate(counts))
    assert row.n_users == n and row.total_events == tot
    assert row.gini == (2 * wsum - (n + 1) * tot) / (n * tot)
    assert 0 <= row.gini < 1


def test_user_gini_two_phase_equals_window_form(spark):
    """agg_user_gini (r6 rewrite): the distributed two-phase
    partition-prefix Σi·xᵢ equals the single-partition-window form it
    replaced, on a deliberately multi-partition per-user frame — the
    equivalence the VERDICT r5 fix demanded. Also proves the operator
    plan carries no unpartitioned Window."""
    from pyspark.sql import Window as W

    (row,) = registry.queries()["agg_user_gini"](spark, SF_SMOKE).collect()
    c = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("x"))
        .repartition(8)  # force a multi-partition ranking input
    )
    r = c.select(
        "x",
        F.row_number().over(W.orderBy("x", "user_id")).cast("long").alias("i"),
    )
    (s,) = r.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("tot"),
        F.sum(F.col("i") * F.col("x")).alias("wsum"),
    ).collect()
    want = float(2 * s.wsum - (s.n + 1) * s.tot) / float(s.n * s.tot)
    assert row.n_users == s.n and row.total_events == s.tot
    assert row.gini == want


def test_exact_quantiles_collapse_and_match_sorted_positions(spark, tmp_path):
    """agg_quantiles_exact_dist: every q resolves to the element at
    rank ceil(q*n) of the (value, event_id)-sorted multiset; on a
    1-row table all five quantiles collapse onto the SAME element and
    all five rows still come back (the same-local-rank edge)."""
    import math

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        QUANTILE_QS,
    )

    q = registry.queries()["agg_quantiles_exact_dist"]

    rows = sorted(
        (r.value, r.event_id)
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("value", "event_id")
        .collect()
    )
    got = {r.q: (r.target_rank, r.value) for r in q(spark, SF_SMOKE).collect()}
    assert set(got) == set(QUANTILE_QS)
    for qq in QUANTILE_QS:
        t = max(1, math.ceil(qq * len(rows)))
        assert got[qq] == (t, rows[t - 1][0])

    one = str(tmp_path / "sf_one")
    spark.createDataFrame(
        [(7, dt.datetime(2021, 1, 1), 3.25)],
        "event_id long, ts timestamp, value double",
    ).write.parquet(f"{one}/events.parquet")
    out = q(spark, one).collect()
    assert len(out) == len(QUANTILE_QS)
    assert {(r.target_rank, r.value) for r in out} == {(1, 3.25)}


def test_global_rank_equals_single_partition_row_number(spark):
    """catalog.global_rank over more range partitions than distinct
    keys, so some partitions are empty and keys tie: every row's rank
    equals row_number() over a single-partition window, ascending and
    descending, NULL keys included; no rows rank to nothing."""
    from pyspark.sql import Window as W

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import (
        global_rank,
    )

    rows = [(k % 3, (k % 3) * 10) for k in range(40)] + [(None, None)] * 2
    df = spark.createDataFrame(rows, "k long, v long").repartition(4)
    for order in ([F.col("k")], [F.col("k").desc()]):
        ranked, n = global_rank(df, order, 8)
        want = df.select("k", "v", F.row_number().over(W.orderBy(*order)))
        got = [tuple(r) for r in ranked.collect()]
        assert n == len(got) == len(rows)
        assert set(got) == {tuple(r) for r in want.collect()}
    empty, n = global_rank(df.limit(0), [F.col("k")], 8)
    assert n == 0 and empty.collect() == []


def test_rank_operators_run_no_python(spark, monkeypatch):
    """The three global-rank operators build and run without a
    mapInPandas stage."""

    def _no_python(*args, **kwargs):
        raise AssertionError("mapInPandas called")

    monkeypatch.setattr(type(spark.range(0)), "mapInPandas", _no_python)
    qs = registry.queries()
    for name in (
        "agg_quantiles_exact_dist",
        "agg_user_gini",
        "ext_lm_perplexity_buckets",
    ):
        assert qs[name](spark, SF_SMOKE).collect(), name


def test_scd2_versions_partition_the_timeline(spark):
    """join_scd2_dim: the 3 validity intervals per customer tile
    [1992-01-01, 9999-12-31) with no gap or overlap, so every order
    matches EXACTLY one dimension version — the SCD2 integrity
    invariant (a gap loses facts, an overlap duplicates them)."""
    out = registry.queries()["join_scd2_dim"](spark, SF_SMOKE)
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert out.count() == n_orders
    assert out.select("o_orderkey").distinct().count() == n_orders
    # spot-check version arithmetic on one joined row
    r = out.filter(F.col("dim_version") == 1).first()
    if r is not None:
        assert r.segment_v.endswith("#v1")


def test_null_skew_split_equals_plain_left_join_and_bypasses_join(spark):
    """join_null_skew_split: (1) result set equals the plain LEFT
    JOIN's; (2) the null branch of the Union contains no join node —
    null-key rows never enter the join subtree."""
    import contextlib
    import io

    out = registry.queries()["join_null_skew_split"](spark, SF_SMOKE)
    # explain BEFORE any action: post-execution AQE explain renders the
    # final plan with query stages and repeats the join node
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]  # tree section only
    assert "Union" in tree
    # exactly ONE join node in the whole tree (the non-null branch);
    # the null branch is Project/Filter/Scan — no join, no exchange
    assert sum("Join" in l for l in tree.splitlines()) == 1
    null_branch = tree[tree.rindex("+- Project") :]
    assert "Join" not in null_branch and "Exchange" not in null_branch

    f = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 4 == 0, None)
            .otherwise(F.col("o_custkey"))
            .alias("cust_ref"),
        )
    )
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plain = f.join(c, f.cust_ref == c.c_custkey, "left").select(
        "o_orderkey", "cust_ref", "c_mktsegment"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    # quarter of the orders are null-keyed in the fixture
    assert out.filter(F.col("cust_ref").isNull()).count() == f.filter(F.col("cust_ref").isNull()).count()


def test_decayed_score_half_life_and_anchor(spark):
    """agg_decayed_score: an event AT the corpus max ts contributes
    value x 1e6 exactly; one exactly 7 days older contributes half
    (within 1 micro-unit of rounding); per-user sums are the integer
    sums of those contributions."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_decayed_score,
        _DECAY_LAMBDA,
    )

    t0 = dt.datetime(2021, 6, 1, 0, 0, 0)
    week = dt.timedelta(days=7)
    rows = [
        (1, t0, 10, "e", 3.0, "{}"),          # at anchor
        (2, t0 - week, 10, "e", 3.0, "{}"),    # one half-life older
        (3, t0 - 2 * week, 20, "e", 4.0, "{}"),
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_decay_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.user_id: r for r in agg_decayed_score(spark, tmp).collect()}
    lam = float(_DECAY_LAMBDA)
    half = round(3.0 * math.exp(-lam * 7.0) * 1e6)
    assert abs(out[10].micro_score - (3_000_000 + half)) <= 1
    assert abs(half - 1_500_000) <= 1  # ln(2)/7 really is a half-life
    quarter = round(4.0 * math.exp(-lam * 14.0) * 1e6)
    assert abs(out[20].micro_score - quarter) <= 1
    assert out[10].n_events == 2 and out[20].n_events == 1


def test_attribution_first_touch_window_and_ties(spark):
    """join_attribution_first_touch: earliest qualifying click wins;
    clicks outside the 7-day lookback or after the purchase don't
    count; same-microsecond click ties resolve to the lowest
    event_id."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        join_attribution_first_touch,
    )

    t0 = dt.datetime(2021, 6, 10, 12, 0, 0)
    day = dt.timedelta(days=1)
    rows = [
        # user 1: two clicks in-window -> earliest (id 1) wins
        (1, t0 - 2 * day, 1, "click", 0.0, "{}"),
        (2, t0 - 1 * day, 1, "click", 0.0, "{}"),
        (3, t0, 1, "purchase", 9.0, "{}"),
        # user 2: only click is 8 days out -> NULL attribution
        (4, t0 - 8 * day, 2, "click", 0.0, "{}"),
        (5, t0, 2, "purchase", 9.0, "{}"),
        # user 3: click strictly after the purchase -> NULL
        (6, t0 + day, 3, "click", 0.0, "{}"),
        (7, t0, 3, "purchase", 9.0, "{}"),
        # user 4: two clicks at the SAME instant -> min event_id (8)
        (9, t0 - day, 4, "click", 0.0, "{}"),
        (8, t0 - day, 4, "click", 0.0, "{}"),
        (10, t0, 4, "purchase", 9.0, "{}"),
        # user 5: the only click is at EXACTLY the purchase instant
        # with a HIGHER event_id — the inclusive frame must admit it
        (11, t0, 5, "purchase", 9.0, "{}"),
        (12, t0, 5, "click", 0.0, "{}"),
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_attr_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.user_id: r for r in join_attribution_first_touch(spark, tmp).collect()}
    assert out[1].first_touch_id == 1 and out[1].touch_lag_us == 2 * 86400 * 10**6
    assert out[2].first_touch_id is None and out[2].touch_lag_us is None
    assert out[3].first_touch_id is None
    assert out[4].first_touch_id == 8
    assert out[5].first_touch_id == 12 and out[5].touch_lag_us == 0


def test_new_vs_returning_decomposition(spark):
    """agg_new_vs_returning: day-1 actives are all new; a user seen
    on a later day counts as returning; active = new + returning on
    every day."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_new_vs_returning,
    )

    d1 = dt.datetime(2021, 3, 1, 9, 0)
    d2 = dt.datetime(2021, 3, 2, 9, 0)
    rows = [
        (1, d1, 10, "view", 0.0, "{}"),
        (2, d1, 10, "click", 0.0, "{}"),   # same user+day: one active row
        (3, d1, 11, "view", 0.0, "{}"),
        (4, d2, 10, "view", 0.0, "{}"),    # returning
        (5, d2, 12, "view", 0.0, "{}"),    # new on day 2
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_newret_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {str(r.day): r for r in agg_new_vs_returning(spark, tmp).collect()}
    assert out["2021-03-01"].active_users == 2
    assert out["2021-03-01"].new_users == 2
    assert out["2021-03-01"].returning_users == 0
    assert out["2021-03-02"].active_users == 2
    assert out["2021-03-02"].new_users == 1
    assert out["2021-03-02"].returning_users == 1


def test_trend_slope_recovers_planted_linear_series(spark):
    """agg_trend_slope: a perfectly linear daily series recovers its
    slope exactly; a flat series reads slope 0; a one-day series hits
    the degenerate-denominator guard."""
    import datetime as dt
    import os
    import tempfile

    rows = []
    eid = 0
    base = dt.datetime(2021, 5, 1, 12, 0)
    # "up": 1, 3, 5, 7 events on days 0..3 -> slope exactly 2/day
    for day, n in enumerate([1, 3, 5, 7]):
        for _ in range(n):
            eid += 1
            rows.append((eid, base + dt.timedelta(days=day), 1, "up", 0.0, "{}"))
    # "flat": 4 events/day for 3 days
    for day in range(3):
        for _ in range(4):
            eid += 1
            rows.append((eid, base + dt.timedelta(days=day), 1, "flat", 0.0, "{}"))
    # "single": one day only
    eid += 1
    rows.append((eid, base, 1, "single", 0.0, "{}"))
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_trend_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_trend_slope,
    )

    out = {r.event_type: r for r in agg_trend_slope(spark, tmp).collect()}
    assert out["up"].slope_per_day == 2.0 and out["up"].mean_daily == 4.0
    assert out["flat"].slope_per_day == 0.0
    assert out["single"].slope_per_day == 0.0 and out["single"].n == 1


def test_winsorize_bounds_clip_counts(spark):
    """agg_winsorize_bounds: on 100 evenly spaced values the p1/p99
    bounds interpolate at 1.99/99.01 and exactly one value falls
    outside each tail."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_winsorize_bounds,
    )

    t0 = dt.datetime(2021, 1, 1)
    rows = [
        (i, t0, 1, "e", float(i), "{}") for i in range(1, 101)
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_winsor_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = agg_winsorize_bounds(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert r.p01 == round(1 + 0.01 * 99, 6) and r.p99 == round(1 + 0.99 * 99, 6)
    assert r.n_events == 100 and r.n_clip_low == 1 and r.n_clip_high == 1


def test_benford_audit_digits_and_expectation(spark):
    """agg_benford_audit: leading digits extract correctly across
    magnitudes (0.04 -> 4, 7 -> 7, 1900 -> 1), zeros are excluded,
    and a perfectly Benford-shaped sample matches its expectation
    row for row."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_benford_audit,
    )

    t0 = dt.datetime(2021, 1, 1)
    # 0 excluded; -25 -> digit 2; 1000 and 1e6 are the floor(ln/ln)
    # rounding traps (raw quotient 10) that must renormalize to 1
    vals = [0.04, 7.0, 1900.0, 0.0, -25.0, 1000.0, 1e6]
    rows = [
        (i, t0, 1, "e", v, "{}") for i, v in enumerate(vals)
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_benford_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.digit: r for r in agg_benford_audit(spark, tmp).collect()}
    assert set(out) == {4, 7, 1, 2}
    assert out[1].n_obs == 3  # 1900, 1000, 1e6 all lead with 1
    n_tot = 6
    for dgt, r in out.items():
        assert r.benford_expected == round(n_tot * math.log10(1 + 1 / dgt))
        assert r.obs_share == round(r.n_obs / n_tot, 6)


def test_hll_union_rollup_mergeable_counts(spark):
    """agg_hll_union_rollup: daily sketches union to the exact
    distinct count at small cardinality, n_days counts the merged
    partial sketches, and NULL user_ids are excluded like SQL
    count(DISTINCT)."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_hll_union_rollup,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows = []
    eid = 0
    # type "a": users 1..8 spread over 4 days (2/day, revisits later)
    for day in range(4):
        for u in (1 + 2 * day, 2 + 2 * day, 1):  # user 1 repeats daily
            rows.append((eid, t0 + dt.timedelta(days=day), u, "a", 1.0, "{}"))
            eid += 1
    # type "b": users 100..102 on one day + a NULL user to ignore
    for u in (100, 101, 102, None):
        rows.append((eid, t0, u, "b", 1.0, "{}"))
        eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_hll_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.event_type: r for r in agg_hll_union_rollup(spark, tmp).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].exact_users == 8 and out["a"].n_days == 4
    assert out["b"].exact_users == 3 and out["b"].n_days == 1
    assert out["a"].approx_ok and out["b"].approx_ok


def test_dp_noisy_counts_matches_python_laplace(spark):
    """agg_dp_noisy_counts: the deterministic hash-seeded Laplace
    offset replicated in Python matches exactly, and the epsilon
    ledger column rides along."""
    import datetime as dt
    import hashlib
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        DP_EPSILON,
        agg_dp_noisy_counts,
    )

    t0 = dt.datetime(2021, 1, 1)
    rows = [(i, t0, 1, "a" if i < 40 else "b", 1.0, "{}") for i in range(60)]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_dp_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.event_type: r for r in agg_dp_noisy_counts(spark, tmp).collect()}

    def noise(et):
        h = int(hashlib.md5(f"dp:{et}".encode()).hexdigest()[:15], 16)
        u = ((h % 1000000) + 0.5) / 1000000.0
        return round(-(1.0 / DP_EPSILON) * math.copysign(1.0, u - 0.5)
                     * math.log(1.0 - 2.0 * abs(u - 0.5)))

    assert out["a"].true_count == 40 and out["b"].true_count == 20
    assert out["a"].noisy_count == 40 + noise("a")
    assert out["b"].noisy_count == 20 + noise("b")
    assert out["a"].epsilon == DP_EPSILON


def test_quantile_sketch_audit_exact_and_within_rank_bounds(spark):
    """agg_quantile_sketch_audit: on a planted 1..100 distribution
    the exact interpolated quantiles are recovered and the sketch
    lands inside its rank-error certificate on both probes."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_quantile_sketch_audit,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows = [(i, t0, 1, "a", float(i + 1), "{}") for i in range(100)]
    rows += [(100 + i, t0, 1, "b", 7.0, "{}") for i in range(5)]
    # the rank-band counterexample: a 2-row spread-out group, where an
    # interpolated +/-1% value band would contain NO element at all
    rows += [(200, t0, 1, "c", 1.0, "{}"), (201, t0, 1, "c", 100.0, "{}")]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_qsk_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.event_type: r for r in agg_quantile_sketch_audit(spark, tmp).collect()}
    assert out["a"].p50 == 50.5  # interpolated median of 1..100
    assert abs(out["a"].p95 - 95.05) < 1e-9
    assert out["b"].p50 == 7.0 and out["b"].p95 == 7.0
    assert out["c"].p50 == 50.5 and out["c"].p95 == 95.05
    assert all(r.ok50 and r.ok95 for r in out.values())


def test_bloom_pruned_join_no_false_negatives_and_python_bits(spark):
    """join_bloom_pruned: the bloom pass set NEVER loses a true
    match (n_pass >= n_true, the bloom's one-sided contract), the
    true-match count is exact, and n_pass_bloom equals a Python
    replication of the k salted-md5 bit probes."""
    import hashlib
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        JOIN_BLOOM_K,
        JOIN_BLOOM_M,
        join_bloom_pruned,
    )

    custs = [(i, f"c{i}", 0, 0.0, "BUILDING" if i % 2 == 0 else "AUTO")
             for i in range(1, 21)]
    orders = [(j, 1 + (j * 7) % 40, "O", 1.0, None, "1-URGENT")
              for j in range(200)]
    tmp = tempfile.mkdtemp(prefix="smdp_jb_")
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.parquet(os.path.join(tmp, "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(os.path.join(tmp, "orders.parquet"))
    row = join_bloom_pruned(spark, tmp).collect()[0]

    def bit(j, key):
        return int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16) % JOIN_BLOOM_M

    dim = {c[0] for c in custs if c[4] == "BUILDING"}
    bits = {bit(j, k) for k in dim for j in range(JOIN_BLOOM_K)}
    n_pass = sum(1 for (_, ck, *_rest) in orders
                 if all(bit(j, ck) in bits for j in range(JOIN_BLOOM_K)))
    n_true = sum(1 for (_, ck, *_rest) in orders if ck in dim)
    assert row.n_orders == 200
    assert row.n_true_match == n_true
    assert row.n_pass_bloom == n_pass
    assert row.n_pass_bloom >= row.n_true_match  # one-sided: no false negatives
    assert row.bloom_fp == n_pass - n_true


def test_concurrency_peak_overlap_carry_and_subsecond(spark):
    """agg_concurrency_peak: two overlapping sessions peak at 2, a
    midnight-crossing session carries +1 into the next day (whose
    peak is the carry even though its only delta is a drain), and
    sub-second sessions are dropped."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_concurrency_peak,
    )

    d1 = dt.datetime(2021, 3, 1)
    rows = [
        (1, d1 + dt.timedelta(hours=10), 7, "a", 10.0, "{}"),
        (2, d1 + dt.timedelta(hours=10, seconds=5), 7, "a", 10.0, "{}"),
        (3, d1 + dt.timedelta(hours=23, minutes=59, seconds=50), 7, "a", 30.4, "{}"),
        (4, d1 + dt.timedelta(hours=12), 7, "a", 0.4, "{}"),  # sub-second: dropped
        (5, d1 + dt.timedelta(hours=9), 8, "b", 60.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_conc_")
    df.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {(r.event_type, str(r.day)): r for r in agg_concurrency_peak(spark, tmp).collect()}
    a1 = out[("a", "2021-03-01")]
    assert a1.n_started == 3 and a1.carry_in == 0 and a1.peak_concurrency == 2
    a2 = out[("a", "2021-03-02")]
    assert a2.n_started == 0 and a2.carry_in == 1 and a2.peak_concurrency == 1
    b = out[("b", "2021-03-01")]
    assert b.n_started == 1 and b.peak_concurrency == 1
    assert len(out) == 3


def test_concurrency_peak_midnight_end_and_multiday(spark):
    """agg_concurrency_peak r6-review edge cases: a session ending
    EXACTLY at midnight must not leak a phantom peak into the next
    day (end-exclusive empty sub-interval), and a multi-day session
    reports every covered day at its sustained level."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_concurrency_peak,
    )

    d1 = dt.datetime(2021, 3, 1)
    rows = [
        # ends exactly at 2021-03-02T00:00:00 (3600s from 23:00)
        (1, d1 + dt.timedelta(hours=23), 7, "a", 3600.0, "{}"),
        # spans 2021-03-10 .. 2021-03-13 (3-day session)
        (2, dt.datetime(2021, 3, 10, 12), 7, "b", 259200.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_conc2_")
    df.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {(r.event_type, str(r.day)): r for r in agg_concurrency_peak(spark, tmp).collect()}
    assert out[("a", "2021-03-01")].peak_concurrency == 1
    assert ("a", "2021-03-02") not in out  # no phantom carry peak
    for day in ("2021-03-10", "2021-03-11", "2021-03-12", "2021-03-13"):
        assert out[("b", day)].peak_concurrency == 1  # no missing days
    assert out[("b", "2021-03-11")].carry_in == 1
    assert out[("b", "2021-03-11")].n_started == 0
    assert len(out) == 5


def test_markov_entropy_planted_chains(spark):
    """agg_markov_entropy: a deterministic a<->b loop contributes
    zero entropy; adding a branching user yields the hand-computed
    mixture H = (ln3 + 2ln1.5)/8 and perplexity exp(H)."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_markov_entropy,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows, eid = [], 0
    for i, et in enumerate(["a", "b", "a", "b", "a"]):  # user 1: strict loop
        rows.append((eid, t0 + dt.timedelta(minutes=i), 1, et, 1.0, "{}")); eid += 1
    for i, et in enumerate(["c", "c", "d", "c", "d"]):  # user 2: branching
        rows.append((eid, t0 + dt.timedelta(minutes=i), 2, et, 1.0, "{}")); eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_mkv_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_markov_entropy(spark, tmp).collect()[0]
    # transitions: a->b x2, b->a x2 (H=0); c->c 1, c->d 2, d->c 1
    assert row.n_states == 4 and row.n_transitions == 8 and row.n_cells == 5
    h = (math.log(3) + 2 * math.log(1.5)) / 8
    assert abs(row.entropy_nats - h) < 1e-5
    assert abs(row.perplexity - math.exp(h)) < 1e-5


def test_occupancy_hours_exact_split(spark):
    """agg_occupancy_hours: a session straddling an hour boundary
    splits its seconds exactly, a contained session bills its full
    duration, and sub-second sessions vanish."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_occupancy_hours,
    )

    d1 = dt.datetime(2021, 3, 1)
    rows = [
        (1, d1 + dt.timedelta(hours=10, minutes=59, seconds=30), 7, "a", 60.0, "{}"),
        (2, d1 + dt.timedelta(hours=10, minutes=5), 7, "a", 120.0, "{}"),
        (3, d1 + dt.timedelta(hours=3), 7, "b", 0.4, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_occ_")
    df.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {(r.event_type, r.hour_of_day): r for r in agg_occupancy_hours(spark, tmp).collect()}
    assert out[("a", 10)].occupancy_sec == 30 + 120
    assert out[("a", 10)].n_session_hours == 2
    assert out[("a", 11)].occupancy_sec == 30 and out[("a", 11)].n_session_hours == 1
    assert ("b", 3) not in out
    assert len(out) == 2


def test_daily_autocorr_sawtooth_and_gap(spark):
    """agg_daily_autocorr: an alternating 1,2,1,2 daily series has
    lag-1 autocorrelation exactly -1; a day after a gap contributes
    no pair; the micro mean is integer-exact."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_daily_autocorr,
    )

    t0 = dt.datetime(2021, 3, 1, 12)
    counts = {0: 1, 1: 2, 2: 1, 3: 2, 6: 7}  # days 4-5 missing
    rows, eid = [], 0
    for day, n in counts.items():
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "a", 1.0, "{}"))
            eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_ac_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_daily_autocorr(spark, tmp).collect()[0]
    assert row.n_days == 5 and row.n_pairs == 3
    assert row.lag1_autocorr == -1.0
    assert row.mean_daily_micro == (13 * 1_000_000) // 5


def test_value_log_histogram_power_of_two_buckets(spark):
    """agg_value_log_histogram: bit-length bucketing puts 2^k values
    on exact power boundaries without float log noise; zero and
    negative floors collapse into bucket 0."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_value_log_histogram,
    )

    t0 = dt.datetime(2021, 3, 1)
    vals = [0.5, -1.5, 1.0, 1.9, 2.0, 3.0, 4.0, 7.99, 8.0]
    rows = [(i, t0, 1, "a", v, "{}") for i, v in enumerate(vals)]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_l2h_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.bucket: r for r in agg_value_log_histogram(spark, tmp).collect()}
    assert out[0].n_events == 2       # floor 0 and floor -2
    assert out[1].n_events == 2       # 1, 1 (floor of 1.9)
    assert out[2].n_events == 2       # 2, 3
    assert out[3].n_events == 2       # 4, 7
    assert out[4].n_events == 1 and out[4].min_value == 8
    assert out[2].min_value == 2 and out[2].max_value == 3


def test_survival_curve_planted_lifetimes(spark):
    """agg_survival_curve: lifetimes 0, 2, and 9 (capped at 7) days
    produce the hand-computed monotone survival counts."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_survival_curve,
    )

    t0 = dt.datetime(2021, 3, 1, 12)
    rows, eid = [], 0
    for day in [0]:
        rows.append((eid, t0 + dt.timedelta(days=day), 1, "a", 1.0, "{}")); eid += 1
    for day in [0, 2]:
        rows.append((eid, t0 + dt.timedelta(days=day), 2, "a", 1.0, "{}")); eid += 1
    for day in [0, 9]:
        rows.append((eid, t0 + dt.timedelta(days=day), 3, "a", 1.0, "{}")); eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_surv_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.k_days: r for r in agg_survival_curve(spark, tmp).collect()}
    assert out[0].n_surviving == 3
    assert out[1].n_surviving == 2 and out[2].n_surviving == 2
    assert all(out[k].n_surviving == 1 for k in range(3, 8))
    assert out[0].share == 1.0 and out[7].share == round(1 / 3, 6)


def test_user_type_venn_regions(spark):
    """agg_user_type_venn: users partition into canonical sorted
    type-set regions with exact counts and shares."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_user_type_venn,
    )

    t0 = dt.datetime(2021, 3, 1)
    plan = {1: ["a"], 2: ["a", "b"], 3: ["b", "a", "b"], 4: ["c"]}
    rows, eid = [], 0
    for uid, types in plan.items():
        for et in types:
            rows.append((eid, t0, uid, et, 1.0, "{}")); eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_venn_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.types: r for r in agg_user_type_venn(spark, tmp).collect()}
    assert set(out) == {"a", "a+b", "c"}
    assert out["a"].n_users_region == 1 and out["a"].n_types == 1
    assert out["a+b"].n_users_region == 2 and out["a+b"].n_types == 2
    assert out["a+b"].share == 0.5


def test_funnel_time_to_convert_sla_buckets(spark):
    """agg_funnel_time_to_convert: conversions land in the correct
    SLA buckets, a never-converting user counts only as entered, and
    a purchase BEFORE the first view does not convert."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_funnel_time_to_convert,
    )

    t0 = dt.datetime(2021, 3, 1, 12)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=30), 1, "purchase", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(seconds=500), 2, "purchase", 1.0, "{}"),
        (5, t0, 3, "view", 1.0, "{}"),
        (6, t0 - dt.timedelta(seconds=10), 4, "purchase", 1.0, "{}"),
        (7, t0, 4, "view", 1.0, "{}"),
    ]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_conv_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_funnel_time_to_convert(spark, tmp).collect()[0]
    assert row.n_entered == 4 and row.n_converted == 2
    assert row.conversion_rate == 0.5
    assert row.within_60s == 1 and row.within_300s == 1
    assert row.within_3600s == 2 and row.within_86400s == 2


def test_seasonality_strength_pure_rhythm(spark):
    """agg_seasonality_strength: all volume concentrated in one hour
    across two days gives eta2 exactly 1.0 with that peak hour; the
    dense spine counts zero cells."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_seasonality_strength,
    )

    rows, eid = [], 0
    for day in (0, 1):
        for _ in range(5):
            rows.append((eid, dt.datetime(2021, 3, 1 + day, 3, 30), 1, "a", 1.0, "{}"))
            eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_seas_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_seasonality_strength(spark, tmp).collect()[0]
    assert row.n_days == 2 and row.n_cells == 48
    assert row.eta2 == 1.0
    assert row.peak_hour == 3


def test_autocorr_and_seasonality_degenerate_guards(spark):
    """r6 review guards: a constant daily series yields NULL
    lag1_autocorr (zero variance), a perfectly uniform hourly grid
    yields NULL eta2, and neither errors — the Spark-NaN-vs-
    DuckDB-NULL divergence class closed by emitting NULL on both."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_daily_autocorr,
        agg_seasonality_strength,
    )

    # one event in EVERY hour of two days: constant daily counts of
    # 24 AND a perfectly uniform dense (day, hour) grid
    rows, eid = [], 0
    for day in (0, 1):
        for h in range(24):
            rows.append((eid, dt.datetime(2021, 3, 1 + day, h, 30), 1, "a", 1.0, "{}"))
            eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_degen_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    ac = agg_daily_autocorr(spark, tmp).collect()[0]
    assert ac.n_pairs == 1 and ac.lag1_autocorr is None
    ss = agg_seasonality_strength(spark, tmp).collect()[0]
    assert ss.n_cells == 48 and ss.eta2 is None


def test_funnel_convert_zero_converters_single_row(spark):
    """r6 review fix: with entered users but zero conversions the
    operator still emits exactly one row with integer zeros (the
    oracle's aggregate-subquery shape guarantees the same)."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_funnel_time_to_convert,
    )

    t0 = dt.datetime(2021, 3, 1, 12)
    rows = [(1, t0, 1, "view", 1.0, "{}"), (2, t0, 2, "view", 1.0, "{}")]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_conv0_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = agg_funnel_time_to_convert(spark, tmp).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_entered == 2 and row.n_converted == 0
    assert row.conversion_rate == 0.0
    assert row.within_60s == 0 and row.within_86400s == 0


def test_wilson_bound_small_sample_correction(spark):
    """agg_wilson_bound: a 2/2 group's raw rate beats 98/100 but its
    Wilson lower bound ranks below — values match a Python replica
    of the closed form."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        WILSON_Z,
        agg_wilson_bound,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows = [(0, t0, 1, "tiny", 150.0, "{}"), (1, t0, 1, "tiny", 150.0, "{}")]
    eid = 2
    for i in range(100):
        rows.append((eid, t0, 1, "big", 150.0 if i < 98 else 50.0, "{}"))
        eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_wil_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.event_type: r for r in agg_wilson_bound(spark, tmp).collect()}

    def wilson(h, n):
        p, z = h / n, WILSON_Z
        return round((p + z * z / (2 * n)
                      - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                     / (1 + z * z / n), 6)

    assert out["tiny"].rate == 1.0 and out["big"].rate == 0.98
    assert out["tiny"].wilson_lb == wilson(2, 2)
    assert out["big"].wilson_lb == wilson(98, 100)
    assert out["tiny"].wilson_lb < out["big"].wilson_lb  # the whole point


def test_dist_drift_probe_shift_and_stationary(spark):
    """agg_dist_drift_probe: a total bucket shift between the two
    slices saturates the probe-KS at 1e6 micro with the flag set;
    identical slices read zero with the flag clear."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_dist_drift_probe,
    )

    def fixture(vals_a, vals_b):
        rows, eid = [], 0
        for v in vals_a:
            rows.append((eid, dt.datetime(2021, 3, 1), 1, "a", v, "{}")); eid += 1
        for v in vals_b:
            rows.append((eid, dt.datetime(2021, 3, 25), 1, "a", v, "{}")); eid += 1
        d = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        tmp = tempfile.mkdtemp(prefix="smdp_drift_")
        d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
        return tmp

    shifted = agg_dist_drift_probe(spark, fixture([1.0] * 10, [8.0] * 10)).collect()[0]
    assert shifted.ks_probe_micro == 1_000_000 and shifted.drift_flag
    same = agg_dist_drift_probe(spark, fixture([3.0] * 10, [3.0] * 10)).collect()[0]
    assert same.ks_probe_micro == 0 and not same.drift_flag


def test_mad_robust_outlier_immune(spark):
    """agg_mad_robust: a wild outlier that would wreck mean/stddev
    moves median and MAD by at most one rank — exact values on a
    planted 1..100 plus 1000."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_mad_robust,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows = [(i, t0, 1, "a", float(i + 1), "{}") for i in range(100)]
    rows.append((100, t0, 1, "a", 1000.0, "{}"))
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_mad_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_mad_robust(spark, tmp).collect()[0]
    assert row.n == 101
    assert row.median == 51.0  # rank-51 of 101, outlier-immune
    assert row.mad == 25.0     # median |x - 51| = 25
    # for contrast: the contaminated mean sits ~8.9 above the median
    assert (sum(range(1, 101)) + 1000) / 101 - row.median > 8


def test_ab_test_sizing_matches_closed_form(spark):
    """agg_ab_test_sizing: the per-arm n matches a Python replica of
    the two-proportion formula, and 100 trials cannot power a 1%
    lift test."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        AB_DELTA,
        AB_Z_ALPHA,
        AB_Z_BETA,
        agg_ab_test_sizing,
    )

    t0 = dt.datetime(2021, 3, 1)
    rows = [(i, t0, 1, "a", 150.0 if i < 50 else 50.0, "{}") for i in range(100)]
    # a group whose baseline is already 1.0: a +delta lift is
    # IMPOSSIBLE — the unguarded closed form emitted n = -792 and
    # feasible = true here (r6 review finding)
    rows += [(100 + i, t0, 1, "sat", 200.0, "{}") for i in range(10)]
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_ab_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.event_type: r for r in agg_ab_test_sizing(spark, tmp).collect()}
    row = out["a"]
    p1, p2 = 0.5, 0.5 + AB_DELTA
    exp = math.ceil((AB_Z_ALPHA + AB_Z_BETA) ** 2
                    * (p1 * (1 - p1) + p2 * (1 - p2)) / AB_DELTA ** 2)
    assert row.baseline_rate == 0.5
    assert row.n_required_per_arm == exp
    assert row.n_available_per_arm == 50 and not row.feasible
    sat = out["sat"]
    assert sat.baseline_rate == 1.0
    assert sat.n_required_per_arm is None and not sat.feasible


def test_cusum_changepoint_localizes_level_shift(spark):
    """agg_cusum_changepoint: 10 days at 2/day then 10 days at
    10/day — the scaled CUSUM peaks at the LAST low-regime day
    (hand-computed T_r = 40r-120r = -80r peaks at r=10, |T|=800),
    and 800/120 days-of-mean trips the 3-day flag."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_cusum_changepoint,
    )

    t0 = dt.datetime(2021, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for day in range(20):
        y = 2 if day < 10 else 10
        for _ in range(y):
            rows.append(
                (eid, t0 + dt.timedelta(days=day), 1, "a", 1.0, "{}")
            )
            eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_cusum_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_cusum_changepoint(spark, tmp).collect()[0]
    day10 = int((t0 + dt.timedelta(days=9)).timestamp()) // 86400
    assert row.n_days == 20 and row.n_events == 120
    assert row.changepoint_day == day10  # last day of the low regime
    assert row.cusum_peak_scaled == 800
    assert row.peak_days_of_mean == round(800 / 120, 6)
    assert row.shift_flag  # 800 > 3 * 120


def test_theil_sen_resists_outlier_day(spark):
    """agg_trend_theil_sen: a clean y = 10 + x series with ONE wild
    backfill day keeps its Theil-Sen slope at ~1 (python replica of
    the pairwise-median) while the OLS slope is dragged far off."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_trend_slope,
        agg_trend_theil_sen,
    )

    t0 = dt.datetime(2021, 3, 1, 12, 0, 0)
    ys = [10 + x for x in range(10)]
    ys[9] = 1000  # corrupted backfill day
    rows = []
    eid = 0
    for day, y in enumerate(ys):
        for _ in range(y):
            rows.append(
                (eid, t0 + dt.timedelta(days=day), 1, "a", 1.0, "{}")
            )
            eid += 1
    d = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_ts_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    row = agg_trend_theil_sen(spark, tmp).collect()[0]
    slopes = sorted(
        (ys[j] - ys[i]) / (j - i)
        for i in range(10)
        for j in range(i + 1, 10)
    )
    n = len(slopes)
    pos = 0.5 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    med = round(slopes[lo] + (slopes[hi] - slopes[lo]) * (pos - lo), 6)
    assert row.n_pairs == n == 45
    assert row.ts_slope_per_day == med
    assert med < 2.0  # robust: close to the true slope 1
    ols = {r.event_type: r for r in agg_trend_slope(spark, tmp).collect()}
    assert ols["a"].slope_per_day > 10 * med  # OLS dragged by the outlier


def test_burstiness_fano_exact_buckets(spark):
    """agg_burstiness_fano: a metronomic user (equal daily counts)
    reads Fano 0; a bursty user's (n·S2−S1²)/(n·S1) is exact."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_burstiness_fano,
    )

    def ts(day, i):
        return dt.datetime(2023, 1, day, 8, i)

    rows = []
    eid = 0
    # user 1: 2 events/day for 3 days -> fano 0
    for day in (1, 2, 3):
        for i in range(2):
            rows.append((eid, ts(day, i), 1, "post", 1.0, "{}")); eid += 1
    # user 2: 1 then 5 -> fano (2*26-36)/(2*6) = 16/12
    rows.append((eid, ts(1, 0), 2, "post", 1.0, "{}")); eid += 1
    for i in range(5):
        rows.append((eid, ts(2, i), 2, "post", 1.0, "{}")); eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_fano_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.bucket_q: r for r in agg_burstiness_fano(spark, tmp).collect()}
    assert out[0].n_users == 1 and out[0].min_fano == 0.0
    fano2 = round(16 / 12, 6)
    b2 = int(fano2 * 4)  # 5
    assert out[b2].n_users == 1 and out[b2].max_fano == fano2
    assert out[b2].n_events == 6


def test_lorenz_deciles_cumulative_shares(spark):
    """agg_lorenz_deciles: 20 users with counts 1..20 -> 2 users per
    decile, exact cumulative shares of 210 total events."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_lorenz_deciles,
    )

    rows = []
    eid = 0
    for u in range(1, 21):
        for i in range(u):
            rows.append(
                (eid, dt.datetime(2023, 1, 1 + i % 28), u, "post", 1.0, "{}")
            )
            eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_lorenz_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = sorted(agg_lorenz_deciles(spark, tmp).collect(), key=lambda r: r.decile)
    assert [r.decile for r in out] == list(range(1, 11))
    assert all(r.n_users == 2 for r in out)
    # decile d holds users 2d-1, 2d -> n_events = 4d - 1
    cum = 0
    for r in out:
        assert r.n_events == 4 * r.decile - 1
        cum += r.n_events
        assert r.cum_events == cum
        assert r.cum_share == round(cum / 210, 6)
    assert out[-1].cum_share == 1.0


def test_sessions_bounce_daily_rollup(spark):
    """agg_sessions_bounce: a 2-event session plus a bounce on day 1,
    a lone bounce on day 2 — counts, shares and engaged time exact."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_sessions_bounce,
    )

    d1 = dt.datetime(2023, 3, 1, 9, 0, 0)
    rows = [
        (0, d1, 1, "post", 1.0, "{}"),
        (1, d1 + dt.timedelta(minutes=5), 1, "post", 1.0, "{}"),
        # > 30 min later: a new single-event session (bounce)
        (2, d1 + dt.timedelta(hours=2), 1, "post", 1.0, "{}"),
        (3, dt.datetime(2023, 3, 2, 10, 0, 0), 2, "post", 1.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_bounce_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {str(r.day): r for r in agg_sessions_bounce(spark, tmp).collect()}
    r1, r2 = out["2023-03-01"], out["2023-03-02"]
    assert r1.n_sessions == 2 and r1.n_bounce == 1
    assert r1.bounce_share == 0.5 and r1.dur_us_sum == 5 * 60 * 1_000_000
    assert r2.n_sessions == 1 and r2.n_bounce == 1 and r2.bounce_share == 1.0
    assert r2.dur_us_sum == 0


def test_diff_in_diff_exact_contrast(spark):
    """agg_diff_in_diff: planted pre/post cell means give the exact
    integer micro-cent contrast (treated +2.00, control +1.00 ->
    DiD = +1.00)."""
    import datetime as dt
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_diff_in_diff,
    )

    pre = dt.datetime(2023, 1, 1, 12)
    post = dt.datetime(2023, 1, 20, 12)
    rows = []
    eid = 0
    for v in (1.0, 1.0):
        rows.append((eid, pre, 1, "purchase", v, "{}")); eid += 1
    for v in (3.0, 3.0):
        rows.append((eid, post, 1, "purchase", v, "{}")); eid += 1
    for v in (1.0, 1.0):
        rows.append((eid, pre, 2, "view", v, "{}")); eid += 1
    for v in (2.0, 2.0):
        rows.append((eid, post, 2, "view", v, "{}")); eid += 1
    # a third type must be ignored entirely
    rows.append((eid, post, 3, "click", 99.0, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_did_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    (r,) = agg_diff_in_diff(spark, tmp).collect()
    assert r.treated_pre_microcents == 100_000_000
    assert r.treated_post_microcents == 300_000_000
    assert r.control_pre_microcents == 100_000_000
    assert r.control_post_microcents == 200_000_000
    assert r.did_microcents == 100_000_000
    assert r.n_events == 8


def test_dow_entropy_schedule_vs_uniform(spark):
    """agg_dow_entropy: a single-weekday scheduler reads exactly 0;
    a uniform 7-day user reads ln(7)."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        agg_dow_entropy,
    )

    rows = []
    eid = 0
    # user 1: six events, all on Mondays (2023-01-02 is a Monday)
    for w in range(6):
        rows.append(
            (eid, dt.datetime(2023, 1, 2) + dt.timedelta(weeks=w), 1,
             "post", 1.0, "{}")
        )
        eid += 1
    # user 2: one event each day of one week
    for d in range(7):
        rows.append(
            (eid, dt.datetime(2023, 1, 2) + dt.timedelta(days=d), 2,
             "post", 1.0, "{}")
        )
        eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_dow_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    out = {r.bucket_q: r for r in agg_dow_entropy(spark, tmp).collect()}
    ln7 = round(math.log(7), 6)
    assert out[0].n_users == 1 and out[0].min_entropy == 0.0
    assert out[0].min_active_dows == 1
    b7 = int(ln7 * 4)
    assert out[b7].n_users == 1 and abs(out[b7].max_entropy - ln7) < 1e-9


def test_tail_hill_matches_python_replica(spark):
    """agg_tail_hill: a planted power-law-ish tail reproduces the
    nano-rounded Hill mean and alpha exactly."""
    import datetime as dt
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.relational import (
        HILL_K,
        agg_tail_hill,
    )

    counts = {u: max(1, int(1000 / u)) for u in range(1, 61)}  # 60 users
    rows = []
    eid = 0
    for u, c in counts.items():
        for i in range(c):
            rows.append(
                (eid, dt.datetime(2023, 1, 1 + i % 27), u, "post", 1.0, "{}")
            )
            eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tmp = tempfile.mkdtemp(prefix="smdp_hill_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "events.parquet"))
    (r,) = agg_tail_hill(spark, tmp).collect()
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    k = min(HILL_K, len(ordered) - 1)
    c_cut = ordered[k][1]
    s_nano = sum(
        math.floor(math.log(c / c_cut) * 1e9 + 0.5) for _, c in ordered[:k]
    )
    assert r.n_users == 60 and r.k == k and r.c_cut == c_cut
    assert r.hill_mean == round(s_nano / (k * 1e9), 6)
    assert r.alpha == round(k * 1e9 / s_nano, 6)
