"""SparkSession factory tuned for the engine.

Scale rationale (100 TB target, tested on local[32]):
- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  shuffle partition counts when data volume is 1000x the test SF.
- shuffle.partitions defaults to cores locally; on a real cluster this
  is overridden (AQE coalesces down from a high initial number).
- UTC session timezone: the reference stores timestamps in three
  encodings (SURVEY §1.2); we normalize to tz-naive UTC at one choke
  point, and the DuckDB oracle comparison requires it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # The whole oracle-contract family assumes ANSI semantics (e.g.
    # size(NULL) = NULL, element_at range errors, strict casts);
    # ANSI is the Spark 4 default but a driver-supplied session could
    # have it off — legacy sizeOfNull would silently read -1 where
    # the oracle reads NULL (r7 ADVICE). Pin it.
    "spark.sql.ansi.enabled": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS) (unsupported by
    # Spark's reader) — read as long, catalog.load converts to micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # plain timestamp[us] parquet columns: read as TimestampType AT THE
    # SCAN (not TIMESTAMP_NTZ) so timestamp predicates still push down
    # to row-group stats; session tz is UTC (above) so the epoch equals
    # DuckDB's epoch_us on the same naive column. catalog.load keeps an
    # NTZ->TimestampType bridge for sessions missing this conf.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep partitions big enough to amortize task setup
    # but small enough to fit executor memory at high SF.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


# applicationIds whose session already had ENGINE_CONFS applied — the
# driver contract wraps EVERY queries() entry in apply_engine_confs, so
# a 327-query gate paid len(ENGINE_CONFS) py4j conf round trips per
# query per pass for values that were already set (r14 optimization
# pass, guide §1/§5: pure driver-side overhead). Keyed by applicationId
# (unique per SparkContext instance), so a fresh driver session is
# always configured on its first query. An app joins the set only once
# every runtime-modifiable conf was set without error; a failed set is
# retried on the next call. Deliberate trade-off: a caller that mutates
# one of these confs mid-session is no longer re-pinned on the next
# query call — no harness path does that (the scoped mutations,
# scoped_conf and scoped_shuffle_partitions, restore what they changed).
_CONFS_APPLIED: set = set()


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used when the driver hands us a session it built (driver contract:
    ``entry(spark)``). Static confs cannot change on a running session
    and are skipped. Idempotent per session: once every modifiable conf
    was set, later calls on that applicationId return immediately (see
    _CONFS_APPLIED)."""
    app = spark.sparkContext.applicationId
    if app in _CONFS_APPLIED:
        return spark
    ok = True
    for k, v in ENGINE_CONFS.items():
        if not spark.conf.isModifiable(k):
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            ok = False  # keep setting the rest; the next call retries
    if ok:
        _CONFS_APPLIED.add(app)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Temporarily set one runtime conf of the session (restored on
    exit). The conf is session-wide, so queries planned on other
    threads meanwhile see the value too."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily pin `spark.sql.shuffle.partitions` (restored on exit).

    Stateful streaming stages bind their state-store partition count to
    this conf at query start and AQE cannot coalesce them, so a small
    drained stream would otherwise pay `cores` tiny state tasks per
    micro-batch. At cluster scale the caller sizes `n` to key
    cardinality/throughput instead of inheriting the batch default.
    """
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


def get_session(
    app_name: str = "smdp_spark",
    cpus: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SMDP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr clean: bench.py's contract is ONE JSON line
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_engine_confs(spark)


def prune_stale_workdirs(parent: str, max_age_s: int = 24 * 3600) -> None:
    """Remove leftover per-invocation work dirs under ``parent`` older
    than ``max_age_s``. The fixture-driven streaming operators create
    a fresh uuid-named dir per call (checkpoint state cannot be
    reused across runs); without pruning, repeated verify/bench
    rounds leak disk unboundedly. The 24 h default is deliberately
    far beyond any verify/bench session so a dir another invocation
    might still lazily read (e.g. a returned DataFrame over its
    silver parquet, collected later) is never deleted from under it —
    a directory's top-level mtime freezes at creation, so a tight
    cutoff WOULD race long-lived sessions."""
    import shutil
    import time

    try:
        entries = os.listdir(parent)
    except FileNotFoundError:
        return
    cutoff = time.time() - max_age_s
    for name in entries:
        path = os.path.join(parent, name)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue
