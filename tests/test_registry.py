"""Registry contract invariants: the driver checks the FIRST 50
queries in registration order, so the window priority list must stay
valid — a typo there silently drops a query out of the correctness
window."""

from __future__ import annotations

import os.path as _osp

from social_media_data_pipeline_recession_political_sentiment_spark import registry

# repo root derived from this file, not hardcoded (r8 ADVICE): the
# tests must run from a relocated checkout
REPO = _osp.dirname(_osp.dirname(_osp.abspath(__file__)))
TOOLS = _osp.join(REPO, "tools")


def test_window_priority_names_all_registered():
    qs = registry.queries()
    missing = [n for n in registry._WINDOW_PRIORITY if n not in qs]
    assert missing == [], f"priority names with no registration: {missing}"


def test_window_priority_leads_registration_order():
    names = list(registry.queries())
    assert names[: len(registry._WINDOW_PRIORITY)] == list(registry._WINDOW_PRIORITY)
    # oracles() must present the same ordering for the driver's zip
    onames = [n for n in registry.oracles()]
    in_priority = [n for n in onames if n in set(registry._WINDOW_PRIORITY)]
    expect = [n for n in registry._WINDOW_PRIORITY if n in set(onames)]
    assert in_priority == expect


def test_window_priority_fills_driver_window_exactly():
    # the driver hard-checks the first 50; fewer wastes slots, more
    # silently pushes tail entries out of the window
    assert len(registry._WINDOW_PRIORITY) == 50
    assert len(set(registry._WINDOW_PRIORITY)) == 50


def test_rows_only_queries_are_the_documented_approximate_set():
    qs, os_ = registry.queries(), registry.oracles()
    rows_only = sorted(set(qs) - set(os_))
    # r11: the last three approximate miners gained full SQL replays
    # (seeded-plane LSH, Lloyd-unrolled IVF) — the gate is now 100%
    # hash-checkable and must STAY that way
    assert rows_only == []


def test_registry_imports_without_spark_session():
    """The driver may enumerate queries()/oracle_sql() BEFORE creating
    its SparkSession; registration must never need a live context
    (regression: a DDL-string pandas_udf return type parses at import
    time and crashes sessionless)."""
    import subprocess
    import sys

    code = (
        "import __spark_entry__ as e; "
        "qs = e.queries(); os_ = e.oracle_sql(); "
        "assert len(qs) >= 120 and len(os_) >= 117"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_no_complex_top_level_output_columns(spark):
    """Driver-canonicalizer contract: the external harness hashes
    results through pandas sort_values, where a top-level array/map/
    struct column arrives as numpy arrays/dicts — unhashable, and the
    whole correctness row crashes BEFORE any value compare (the one
    red CORRECTNESS_r06 row, ext_tokenize_ids). Every registered
    query must therefore emit only atomic top-level columns;
    sequences serialize to strings (array_join / string_agg) or
    explode to rows. Schema resolution is lazy, so this sweeps all
    285 queries without executing the declarative ones; the
    imperative sink_*/stream_* queries DO run their pipelines at
    sf0.001 to yield a frame (~2 min total) — accepted: a schema
    snapshot would go stale silently, and this is the single test
    standing between a new operator and a crashed driver
    correctness row."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from tests.conftest import SF_SMOKE

    bad = {}
    for name, fn in registry.queries().items():
        schema = fn(spark, SF_SMOKE).schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex top-level output columns: {bad}"


def test_every_oracle_parses_in_duckdb():
    """Fast dialect guard: EXPLAIN every registered oracle against
    DuckDB views of the sf0.001 tables. Catches SQL typos and
    DuckDB-dialect regressions in seconds without executing the full
    correctness gate (the driver and tools/verify_local.py execute
    them for real)."""
    import duckdb

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    bad = {}
    for name, sql in registry.oracles().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover - failure reporting
            bad[name] = str(exc).splitlines()[0]
    assert not bad, bad


def test_bench_and_baseline_cover_the_entire_registry():
    """BENCH_FULL.json and BASELINE.md's frozen table must each carry
    a row for every registered query — the same assert
    tools/append_bench_round.py makes at append time, enforced here
    continuously so a new operator can't land without its bench and
    baseline bookkeeping."""
    import json

    reg = set(registry.queries())
    bench = set(json.load(open(f"{REPO}/BENCH_FULL.json"))["queries"])
    assert reg - bench == set(), f"bench missing: {sorted(reg - bench)}"

    lines = open(f"{REPO}/BASELINE.md").read().splitlines()
    hdr = next(i for i, l in enumerate(lines) if l.startswith("| query ID"))
    frozen = set()
    for l in lines[hdr + 2 :]:
        if not l.startswith("| `"):
            break  # stop at the table end — appendix rows reuse the format
        frozen.add(l.split("`")[1])
    assert reg - frozen == set(), f"baseline missing: {sorted(reg - frozen)}"


def test_degenerate_inputs_do_not_crash_fixed_class(spark):
    """Degenerate-input regression pin (r7 sweep): the nine queries
    that crashed on pathological-but-real corpus shapes (uniform term
    counts, empty docs, zero-norm embeddings, single-timestamp event
    streams, malformed source names) must return rows or empty — not
    raise. The full 285-query sweep lives in tools/degen_sweep.py;
    this pins the class that already bit under ANSI mode
    (DIVIDE_BY_ZERO / CAST_INVALID_INPUT)."""
    import sys

    sys.path.insert(0, TOOLS)
    from degen_sweep import build_fixture

    fixture = build_fixture()
    fixed = [
        "ext_zipf_fit",
        "ext_sim_topk",
        "join_similarity_topk",
        "ext_sim_ivf_exhaustive",
        "ext_sim_ivf_recall",
        "ext_emb_matryoshka_recall",
        "ext_gopher_repetition",
        "agg_dist_drift_probe",
        "ext_dedup_cross_source",
    ]
    qs = registry.queries()
    for name in fixed:
        qs[name](spark, fixture).collect()  # must not raise


def test_empty_corpus_tables_do_not_crash_fixed_class(spark):
    """Empty-corpus regression pin (r7 sweep, --empty mode): the four
    queries that crashed when documents/events/embeddings have ZERO
    rows — the 'my filter matched nothing' case every date-range or
    partition predicate produces routinely at scale — must return
    rows or empty, not raise (funnel/chunk ratios over zero entry
    counts; sink read-back schema inference over a data-less
    _SUCCESS-only directory)."""
    import sys

    sys.path.insert(0, TOOLS)
    from degen_sweep import build_fixture

    fixture = build_fixture(empty=True)
    fixed = [
        "agg_funnel_steps",
        "ext_chunk_cdc",
        "sink_partitioned_prune",
        "sink_dynamic_overwrite",
        # r8 additions — the sweep now zeroes ORDERS too (r7 ADVICE):
        # sink_sorted_runs' _pq_sql boundary index degenerated to
        # element_at(arr, 0) (INVALID_INDEX_OF_ZERO) and its read-back
        # inferred schema over a _SUCCESS-only dir; join_bloom_pruned's
        # fp_rate divided by zero true negatives
        "sink_sorted_runs",
        "join_bloom_pruned",
    ]
    qs = registry.queries()
    for name in fixed:
        qs[name](spark, fixture).collect()  # must not raise


def test_empty_input_grand_total_oracle_parity(spark):
    """Grouping sets over ZERO-row events/documents read SQL's one
    grand-total row (count 0, rollup's total_chars NULL), as DuckDB
    and PostgreSQL do; Spark alone would return no row. The Gini
    scalar reads (0, NULL, NULL): sum over no rows is NULL. The exact
    driver-replica comparison (rowcount + schema + value hash) on the
    --empty fixture."""
    import sys

    sys.path.insert(0, TOOLS)
    import duckdb
    from degen_sweep import build_fixture
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import TABLES

    fixture = build_fixture(empty=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    qs, os_ = registry.queries(), registry.oracles()
    bad = {}
    for name in ("agg_cube", "agg_rollup", "agg_grouping_sets", "agg_user_gini"):
        assert qs[name](spark, fixture).count() == 1, name
        problems = compare_query(spark, con, qs[name], os_[name], fixture)
        if problems:
            bad[name] = problems
    assert not bad, bad
    row = qs["agg_rollup"](spark, fixture).collect()[0]
    assert (row.source, row.lang, row.n_docs, row.total_chars) == (None, None, 0, None)
    assert tuple(qs["agg_user_gini"](spark, fixture).collect()[0]) == (0, None, None)


def test_null_riddled_tables_do_not_crash_fixed_class(spark):
    """NULL-riddled regression pin (r7 sweep, --nulls mode): the
    queries whose numpy/driver seams crashed on NULL embeddings /
    NULL text (failed encodes and partial ingests look exactly like
    this) must run, not raise. The NULL-embedding rule — no vector,
    no similarity op — is pinned on both engines (matching oracle
    predicates), verified by running the ORACLE GATE itself on this
    fixture during r7."""
    import sys

    sys.path.insert(0, TOOLS)
    from degen_sweep import build_fixture

    fixture = build_fixture(nulls=True)
    fixed = [
        "ext_sim_topk",
        "ext_sim_ivf",
        "ext_sim_ivf_exhaustive",
        "ext_sim_ivf_recall",
        "ext_dedup_embcos",
        "ext_dedup_semantic",
        "ext_sim_knn_graph",
        "ext_sim_lsh",
        "ext_sim_lsh_verify",
        "ext_sim_lsh_recall",
        "ext_emb_gram_int8",
        "ext_emb_anisotropy",
        "ext_label_knn_noise",
        "ext_shard_manifest",
        "ext_mm_resize_stub",
    ]
    qs = registry.queries()
    for name in fixed:
        qs[name](spark, fixture).collect()  # must not raise


def test_nonfinite_values_do_not_crash_fixed_class(spark):
    """Non-finite/extreme regression pin (r7 sweep, --nonfinite mode):
    NaN/±inf/1e308 measures and wildly out-of-range timestamps must
    not kill the cents fixed-point casts (ANSI CAST_OVERFLOW) or
    explode the session day-split sequence
    (COLLECTION_SIZE_LIMIT_EXCEEDED). Rows keep their place; only the
    out-of-domain measure reads NULL (the shared FINITE_CENTS_SQL /
    SESSION_MAX_S devices, pinned on both engines and oracle-gate-
    verified ON this fixture during r7)."""
    import sys

    sys.path.insert(0, TOOLS)
    from degen_sweep import build_fixture

    fixture = build_fixture(nonfinite=True)
    fixed = [
        "agg_sessionize_batch",
        "window_moving_range",
        "agg_decayed_score",
        "agg_benford_audit",
        "agg_concurrency_peak",
        "agg_occupancy_hours",
        "sink_dynamic_overwrite",
    ]
    qs = registry.queries()
    for name in fixed:
        qs[name](spark, fixture).collect()  # must not raise


def test_tz_default_is_unobservable_in_engine_epochs():
    """TZ/DST immunity pin (r8 sweep, --tz mode): the contract stores
    tz-naive UTC wallclocks and pins spark.sql.session.timeZone=UTC,
    so a non-UTC HOST default timezone must be unobservable in engine
    arithmetic. A subprocess runs with TZ=America/New_York (JVM
    inherits it as user.timezone) over the DST fixture — timestamps
    straddling the 2024 US/EU transitions, including wallclocks that
    are nonexistent or ambiguous as Eastern local time — and its
    Spark-side epoch seconds + epoch-day buckets must equal an
    independent pyarrow read of the same parquet. Also pins that the
    fall-back FOLD PAIR (2024-11-03 05:30/06:30 UTC == 01:30 EDT /
    01:30 EST local) stays DISTINCT in engine epochs: the py4j
    collect path renders datetimes through the Python local zone and
    collapses that pair's repr — a documented representation seam of
    the collection API, never of the engine."""
    import subprocess
    import sys as _sys

    _sys.path.insert(0, TOOLS)
    from degen_sweep import FIXTURE, build_fixture

    build_fixture(tz=True)

    import pyarrow.parquet as pq

    ts = pq.read_table(f"{FIXTURE}/events.parquet").column("ts").to_pylist()
    import datetime as dt

    expect = sorted(
        int((t - dt.datetime(1970, 1, 1)).total_seconds()) for t in ts
    )
    expect_days = sorted(e // 86400 for e in expect)

    code = """
import os, time
os.environ["TZ"] = "America/New_York"
time.tzset()
import sys
sys.path.insert(0, %r)
from social_media_data_pipeline_recession_political_sentiment_spark.session import get_session
from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load
import pyspark.sql.functions as F
spark = get_session("tz_pin", cpus=2)
e = load(spark, %r, "events").select(
    F.col("ts").cast("long").alias("epoch"),
    (F.col("ts").cast("long") - ((F.col("ts").cast("long") %% 86400 + 86400) %% 86400))
    .alias("day0"),
)
rows = e.collect()
print("TZPIN:" + repr(sorted(r.epoch for r in rows)))
print("TZPIN:" + repr(sorted(r.day0 // 86400 for r in rows)))
""" % (REPO, FIXTURE)
    r = subprocess.run(
        [_sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # SENTINEL-prefixed lines + ast.literal_eval (r8 ADVICE): a stray
    # log4j/py4j line starting with '[' must never be eval'd as code
    import ast

    lines = [
        ln[len("TZPIN:"):]
        for ln in r.stdout.splitlines()
        if ln.startswith("TZPIN:")
    ]
    assert len(lines) == 2, f"expected 2 TZPIN lines, got: {r.stdout[-500:]}"
    got_epochs = ast.literal_eval(lines[0])
    got_days = ast.literal_eval(lines[1])
    assert got_epochs == expect, "engine epochs shifted under non-UTC TZ"
    assert got_days == expect_days, "epoch-day buckets shifted under non-UTC TZ"
    # the fall-back fold pair must remain two distinct instants
    fold = [
        int(
            (dt.datetime(2024, 11, 3, h, 30) - dt.datetime(1970, 1, 1))
            .total_seconds()
        )
        for h in (5, 6)
    ]
    assert all(f in got_epochs for f in fold)


def test_sweep_mode_fixtures_smoke(spark):
    """Single smoke entry over ALL degen_sweep modes (r7 verdict item
    5): every mode's fixture must still BUILD and its most exposed
    query family must still run on it. The per-class crash pins above
    cover degenerate/empty/nulls/nonfinite in depth and the TZ pin
    covers --tz; this sweep-wide loop is the bitrot guard — a mode
    whose fixture builder breaks (schema drift in testdata, a removed
    table, a renamed column) fails HERE instead of silently dropping
    out of the session-scope sweep program. Full-gate divergence runs
    (the real check for --unicode/--json/--tz) stay session tooling:
    tools/degen_sweep.py + tools/verify_local.py on the fixture."""
    import sys

    sys.path.insert(0, TOOLS)
    from degen_sweep import build_fixture

    modes = {
        "degenerate": (dict(), ["ext_zipf_fit"]),
        "empty": (dict(empty=True), ["sink_sorted_runs"]),
        "nulls": (dict(nulls=True), ["ext_shard_manifest"]),
        "nonfinite": (dict(nonfinite=True), ["agg_sessionize_batch"]),
        # the string-kernel and JSON-contract families are the ones
        # these two divergence modes exist for
        "unicode": (
            dict(unicode_=True),
            ["ext_fingerprint", "ext_dedup_edit_distance"],
        ),
        "json": (
            dict(json_edge=True),
            ["project_flatten_json", "fn_props_schema_census"],
        ),
        "tz": (dict(tz=True), ["agg_daily_counts", "agg_concurrency_peak"]),
        "dups": (dict(dups=True), ["ext_dedup_exact", "stream_dedup"]),
        # the salting/tie-break family is what the skew mode exists for
        "skew": (
            dict(skew=True),
            ["agg_salted_skew", "join_salted_skew", "ext_dedup_minhash"],
        ),
    }
    qs = registry.queries()
    for mode, (kw, names) in modes.items():
        fixture = build_fixture(**kw)
        for name in names:
            try:
                qs[name](spark, fixture).collect()
            except Exception as exc:  # pragma: no cover - failure report
                raise AssertionError(
                    f"sweep mode {mode!r} bitrot: {name} crashed: {exc}"
                ) from exc


def test_null_riddled_oracle_parity_fixed_class(spark):
    """NULL-divergence ORACLE pins (r8 sweep): r7 ran the full gate
    only on the unicode/json fixtures; running it on the --nulls
    fixture found 20 VALUE divergences (not crashes) — NULL keys
    riding Spark's union-and-window as-of carry but dropped by
    DuckDB's inner ASOF JOIN, NULLS-FIRST range sort vs NULLS-LAST
    SQL ranks, sum() over an all-NULL group (NULL on Spark, the
    oracle's CASE ELSE 0), DuckDB least() SKIPPING a NULL operand,
    and fillna('') scoring NULL comments. Each got an explicit pin
    on BOTH engines; this test re-runs the EXACT driver-replica
    comparison (rowcount + schema + value hash) for the fixed class
    on the NULL fixture. ext_sim_ivf_recall stays out: its
    meets_floor is honestly false on a 4-vector corpus (documented
    accepted approximation red, r7)."""
    import sys

    sys.path.insert(0, TOOLS)
    import duckdb
    from degen_sweep import build_fixture
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import TABLES

    fixture = build_fixture(nulls=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    fixed = [
        "join_asof",
        "join_asof_nearest",
        "join_asof_tolerance",
        "agg_ewma_volume",
        "agg_hll_union_rollup",
        "agg_quantiles_exact_dist",
        "stream_tumbling_count",
        "stream_sessionize",
        "maintenance_vacuum",
        "fn_hate_flag",
        "udf_vader_sentiment",
        "udf_hatespeech_api",
        "enrich_table",
        "ext_emb_norm",
        "ext_feature_hashing",
        "ext_text_repetition",
        "ext_mm_decode_stub",
        "ext_chunk_cdc",
        "ext_corpus_datacard",
    ]
    qs, os_ = registry.queries(), registry.oracles()
    bad = {}
    for name in fixed:
        problems = compare_query(spark, con, qs[name], os_[name], fixture)
        if problems:
            bad[name] = problems
    assert not bad, bad


def test_dup_key_enforcement_family_oracle_parity(spark):
    """Duplicate-primary-key contract pin (r8 sweep, --dups mode):
    at-least-once ingest and re-crawls deliver duplicate doc_id /
    event_id / vec_id rows, sometimes with CHANGED payloads. The
    engine's contract makes the INGEST-DEDUP family the enforcement
    point — those operators must stay exactly oracle-green on
    dup-key input — while content operators downstream assume
    key-deduplicated (bronze-cleaned) input: their oracles key on
    doc_id/event_id, so PK-violating input changes the QUESTION
    (GROUP BY collapses two different payloads; key rejoins fan out
    2x2), not the engine arithmetic. The full-gate run on this
    fixture is recorded in tools/verify_r8_session1.log with the 21
    key-assuming queries' mismatches as the documented boundary;
    everything here must hold: crash-free registry-wide, and the
    enforcement family hash-green."""
    import sys

    sys.path.insert(0, TOOLS)
    import duckdb
    from degen_sweep import build_fixture
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import TABLES

    fixture = build_fixture(dups=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    family = [
        "stream_dedup",
        "stream_upsert_keyed",
        "window_dedup_recent",
        "ext_dedup_exact",
        "ext_dedup_incremental",
        "ext_dedup_incremental_bucketed",
        "ext_dedup_incremental_bloom",
        "sink_scd1_merge",
        "ext_dedup_cluster_pick",
        "ext_dataset_diff",
        "join_anti_dedup",
        "agg_count_star",
    ]
    qs, os_ = registry.queries(), registry.oracles()
    bad = {}
    for name in family:
        problems = compare_query(spark, con, qs[name], os_[name], fixture)
        if problems:
            bad[name] = problems
    assert not bad, bad


def test_chunk_cdc_all_null_text_boundary(spark):
    """r8 ADVICE boundary pin: a corpus where EVERY doc is NULL-text
    yields ZERO surviving chunks. The Spark side's crossJoin of two
    aggregates always emits exactly one report row (n_docs >= 0,
    zero chunk counts, NULL ratio/mean); the oracle must too — the
    pre-fix oracle GROUP BY'd the filtered cross join and emitted
    zero rows. The --nulls sweep fixture mixes NULL and non-NULL
    texts so this rowcount divergence was latent; this pin builds
    the all-NULL variant explicitly and runs the driver-replica
    compare on it."""
    import shutil
    import sys
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, TOOLS)
    from verify_local import compare_query

    src = "/root/testdata/sf0.001/documents.parquet"
    t = pq.read_table(src)
    null_text = pa.nulls(t.num_rows, type=t.schema.field("text").type)
    t = t.set_column(t.schema.get_field_index("text"), "text", null_text)
    fixture = tempfile.mkdtemp(prefix="smdp_allnull_")
    try:
        pq.write_table(t, f"{fixture}/documents.parquet")
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS "
            f"SELECT * FROM '{fixture}/documents.parquet'"
        )
        qs, os_ = registry.queries(), registry.oracles()
        problems = compare_query(
            spark, con, qs["ext_chunk_cdc"], os_["ext_chunk_cdc"], fixture
        )
        assert not problems, problems
        # and the contract itself: exactly one row, zeroed counts
        row = qs["ext_chunk_cdc"](spark, fixture).collect()
        assert len(row) == 1
        assert row[0]["total_chunks"] == 0 and row[0]["dedup_ratio"] is None
    finally:
        shutil.rmtree(fixture, ignore_errors=True)


def test_nonfinite_oracle_parity_fixed_class(spark):
    """Non-finite divergence ORACLE pins (r9 sweep promotion): the
    --nonfinite mode had only ever been a CRASH gate; running the
    full DuckDB-oracle gate on its fixture found four cross-engine
    fork classes, each closed with a portable domain contract:

    - int8 quantization (FINITE_AMAX_SQL): Spark's ANSI cast reads
      floor(NaN + 0.5) as code 0 while DuckDB's CAST hard-errors —
      non-finite vectors leave the quantized universe.
    - float similarity (_fin_emb_spark/_fin_emb_duck, bound 1e150 so
      norm PRODUCTS stay finite): SQL treats NaN >= t as TRUE
      (NaN-greatest) where the NumPy blocked kernels read False.
    - value statistics (FINITE_MEASURE_SQL / FINITE_FLOOR_SQL):
      numpy max -> NaN vs SQL NaN-greatest aggregates, and Spark's
      double->BIGINT cast SATURATES at Long.MAX where DuckDB errors.
    - time resample/watermark (SANE_TS_SQL): a 2260-09-xx glitch
      stamp fast-forwards a stream watermark 200+ years (silently
      dropping every honest later row) and explodes a dense hourly
      spine to ~9.5M cells.

    This test re-runs the EXACT driver-replica comparison for
    representatives of each fixed class on the non-finite fixture.
    ext_sim_ivf_recall stays out: meets_floor is honestly false on
    the degenerate corpus (the same documented accepted
    approximation red as the --nulls gate)."""
    import sys

    sys.path.insert(0, TOOLS)
    import duckdb
    from degen_sweep import build_fixture
    from verify_local import compare_query

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import TABLES

    fixture = build_fixture(nonfinite=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    fixed = [
        # int8 family
        "ext_emb_quantize",
        "ext_sim_topk_int8",
        "ext_emb_pq_codebook",
        # float similarity family
        "ext_dedup_embcos",
        "ext_sim_knn_graph",
        "ext_dedup_semantic",
        "ext_sim_topk",
        # value-stats family
        "agg_percentiles",
        "agg_winsorize_bounds",
        "udaf_value_range",
        "agg_value_log_histogram",
        "agg_dist_drift_probe",
        "agg_quantiles_exact_dist",
        # sane event-time domain
        "agg_time_spine_fill",
        "stream_dedup",
    ]
    qs, os_ = registry.queries(), registry.oracles()
    bad = {}
    for name in fixed:
        problems = compare_query(spark, con, qs[name], os_[name], fixture)
        if problems:
            bad[name] = problems
    assert not bad, bad
