"""Plan-shape regression locks: source-scan multiplicity and the
shuffle/sort/window counts of the event-time devices.

Spark does not deduplicate common DataFrame subplans: a frame feeding
k plan branches re-scans its source (and re-runs its derivation) k
times. These tests pin the scan counts of the queries that once
re-scanned most, so a refactor that drops a `compute_once` seam — or
adds a new branch without one — fails HERE instead of silently
re-billing the corpus at 100 TB. They also pin the Exchange/Sort/
Window counts that the as-of and sessionizer devices promise. Counts
come from the same formatted-plan parse as
`tools/scan_count_audit.py`; plans only, nothing executes.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections import Counter

import pytest

from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
    queries,
)

SF_SMOKE = "/root/testdata/sf0.001"

_LOC = re.compile(r"Location: \w+ \[[^\]]*?([\w.]+\.(?:parquet|csv|json))")


def _plan_blocks(df) -> list[str]:
    """The formatted plan's per-node detail blocks, each starting with
    its node name (the tree drawing before them is dropped)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.split(r"\n\(\d+\) ", buf.getvalue())[1:]


def _scan_counts(df) -> Counter:
    tables: Counter = Counter()
    for block in _plan_blocks(df):
        # ExistingRDD = a compute_once read, not a source re-scan
        if block.startswith("Scan ") and not block.startswith(
            "Scan ExistingRDD"
        ):
            m = _LOC.search(block)
            tables[m.group(1) if m else "<unknown>"] += 1
    return tables


# (query, table, max file scans of that table the plan may contain).
# The bound is the count the sweep achieved; 2 = a documented
# two-pass shape (stats pass + apply pass, or probe + corpus side).
CASES = [
    ("ext_dsir_resample", "documents.parquet", 2),  # was 18 pre-sweep
    ("ext_tfidf_cosine_pairs", "documents.parquet", 2),  # was 18
    ("ext_dedup_weighted_jaccard", "documents.parquet", 2),  # was 10
    ("ext_graph_degree_census", "documents.parquet", 2),  # was 9
    ("ext_mm_dedup_phash", "documents.parquet", 2),  # was 8
    ("agg_funnel_steps", "events.parquet", 3),  # was 6; one per step
    ("agg_seasonality_strength", "events.parquet", 1),  # was 6
    ("agg_dist_drift_probe", "events.parquet", 2),  # was 6
    ("ext_token_entropy_rate", "documents.parquet", 2),  # was 6
    ("ext_bm25_topk", "documents.parquet", 2),  # was 4
    ("agg_cusum_changepoint", "events.parquet", 1),  # was 3
    ("join_bloom_pruned", "orders.parquet", 1),  # was 3; one fact pass
    ("join_bloom_pruned", "customer.parquet", 1),  # was 4
]


@pytest.mark.parametrize("name,table,max_scans", CASES)
def test_scan_multiplicity_bounded(spark, name, table, max_scans):
    counts = _scan_counts(queries()[name](spark, SF_SMOKE))
    assert counts[table] <= max_scans, (
        f"{name} scans {table} {counts[table]}x (bound {max_scans}): "
        f"a shared frame lost its compute_once pin, or a new branch "
        f"needs one (see tools/scan_count_audit.py)"
    )


# (query, max Exchange, Sort and Window operators its plan may hold):
# the shapes the event-time devices promise — the as-of carry and the
# sessionizer each run over ONE shuffle on their key (the other as-of
# exchange feeds the snapshot aggregate, bounce's the day rollup), and
# nearest's second carry adds a sort and a Window but no shuffle.
SHAPES = [
    ("join_asof", 2, 1, 1),
    ("join_asof_tolerance", 2, 1, 1),
    ("join_asof_nearest", 2, 2, 2),
    ("join_attribution_first_touch", 1, 1, 1),
    ("agg_sessionize_batch", 1, 1, 2),
    ("agg_sessions_bounce", 2, 1, 2),
]


@pytest.mark.parametrize("name,exchanges,sorts,windows", SHAPES)
def test_event_time_device_plan_shape(spark, name, exchanges, sorts, windows):
    nodes = Counter(
        b.split(None, 1)[0] for b in _plan_blocks(queries()[name](spark, SF_SMOKE))
    )
    got = (nodes["Exchange"], nodes["Sort"], nodes["Window"])
    assert all(g <= b for g, b in zip(got, (exchanges, sorts, windows))), (
        f"{name} plans (Exchange, Sort, Window) = {got}, "
        f"bound {(exchanges, sorts, windows)}"
    )


def test_compute_once_is_value_transparent(spark):
    """compute_once must be a pure plan device: same rows, any
    partitioning."""
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import (
        compute_once,
    )

    df = (
        spark.range(0, 1000, 1, 7)
        .selectExpr("id", "id % 13 AS k")
        .groupBy("k")
        .count()
    )
    pinned = compute_once(df)
    assert sorted(pinned.collect()) == sorted(df.collect())
    # and both downstream branches of the SAME pin agree with the
    # unpinned equivalents
    total = pinned.groupBy().sum("count").collect()[0][0]
    assert total == 1000
