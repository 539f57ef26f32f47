"""The benchmark workloads.

Four parts model the system's users: a dashboard page load, the hourly
bronze-to-gold catch-up run (ingest), the nightly corpus release run
(curation) and a round of ad-hoc relational reports (analytics). A
workload runs two parts back to back as one *pass*:

- ``analyst``: dashboard + analytics, the read path analysts wait on;
- ``pipeline``: curation + ingest, the scheduled batch and stream jobs.

Each part generates its inputs from the seed. A pass is a list of ops;
each op carries its own Spark job group ``<part>:<pass>:<op>`` so the
status tracker's counts never accumulate across repeats. Results are
kept and checked against DuckDB after the timed window.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle
from tracing import spark_work, write_jobs

PKG = "social_media_data_pipeline_recession_political_sentiment_spark"


@dataclass
class Op:
    layer: str
    name: str
    group: str
    latency: float = 0.0
    result: tuple | None = None  # (columns, rows)
    error: str | None = None
    key: object = None  # what the result is checked against
    ok: bool | None = None
    part: str = ""


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    tracer: object
    work: dict = field(default_factory=dict)  # "<layer>.<count>" -> total


def layer_of(fn) -> str:
    mod = fn.__module__.split(PKG + ".", 1)[1]
    return "enrich" if mod.startswith("enrich.") else mod


def run_op(ctx: Ctx, layer: str, name: str, group: str, build, key=None) -> Op:
    """Build and collect one DataFrame under its own job group. A failing
    op is recorded with its error and counted, never skipped."""
    op = Op(layer, name, group, key=key)
    ctx.spark.sparkContext.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(layer, name, group):
            df = build()
            rows = df.collect()
        op.result = (df.columns, rows)
    except Exception as e:  # noqa: BLE001 - any failure is a failed op
        op.error = f"{type(e).__name__}: {str(e)[:300]}"
    op.latency = time.perf_counter() - t0
    return op


def add_work(ctx: Ctx, group: str, default_layer: str, moved=None) -> None:
    for layer, counts in spark_work(ctx.spark.sparkContext, group, moved).items():
        for k, v in counts.items():
            key = f"{layer or default_layer}.{k}"
            ctx.work[key] = ctx.work.get(key, 0) + v


class Workload:
    name = ""
    tables: tuple = ()

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.input_rows = 0

    def generate(self, data_dir: str) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Forget what the set-up passes recorded."""

    def prepare(self, ctx: Ctx, tag: str) -> None:
        """Untimed per-pass preparation."""

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        raise NotImplementedError

    def first_op(self, ctx: Ctx, tag: str) -> Op:
        """The first request of a pass on its own (set-up probe)."""
        raise NotImplementedError

    def finish(self, ctx: Ctx, tag: str, ops: list[Op]) -> None:
        """Untimed per-pass follow-up (checks that need per-pass state,
        clean-up, Spark work counts when tracing)."""
        if ctx.tracer.enabled:
            moved = self.moved_jobs(ctx)
            for group, layer in {(op.group, op.layer) for op in ops}:
                add_work(ctx, group, layer, moved)

    def moved_jobs(self, ctx: Ctx) -> dict[int, str]:
        """Job ids counted under another layer than their op's."""
        return {}

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        """Mark every op ok or not against DuckDB (after the window)."""
        raise NotImplementedError

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        return {}


# --------------------------------------------------------------- dashboard
class Dashboard(Workload):
    """One client loads dashboard pages in a closed loop. A page is the
    14 routes of ``dashboard.all_routes`` over a seeded 1-20 day window
    of January 2024; one op is one route request."""

    name = "dashboard"
    tables = ("events",)
    N_EVENTS, HOT_SHARE = 20_000, 0.2

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.rng = np.random.default_rng([seed, 1])
        self.build_s: list[float] = []

    def generate(self, data_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.input_rows = gen.write_events(data_dir, rng, self.N_EVENTS, self.HOT_SHARE)

    def reset(self) -> None:
        self.build_s = []

    def _window(self) -> tuple[str, str]:
        days = int(self.rng.integers(1, 21))
        first = int(self.rng.integers(1, 32 - days))
        d0 = dt.date(2024, 1, first)
        return d0.isoformat(), (d0 + dt.timedelta(days=days)).isoformat()

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        from social_media_data_pipeline_recession_political_sentiment_spark import dashboard

        start, end = self._window()
        t0 = time.perf_counter()
        with ctx.tracer.span("dashboard", "build"):
            routes = dashboard.all_routes(ctx.spark, ctx.data_dir, start, end)
        self.build_s.append(time.perf_counter() - t0)
        return [
            run_op(ctx, "dashboard", route, f"dashboard:{tag}:{i}",
                   lambda df=df: df, key=(route, start, end))
            for i, (route, df) in enumerate(routes.items())
        ]

    def first_op(self, ctx: Ctx, tag: str) -> Op:
        from social_media_data_pipeline_recession_political_sentiment_spark import dashboard

        def build():
            routes = dashboard.all_routes(ctx.spark, ctx.data_dir, *self._window())
            return next(iter(routes.values()))

        return run_op(ctx, "dashboard", "first", f"dashboard:{tag}:0", build)

    @staticmethod
    def oracle_sql(route: str, start: str, end: str) -> str:
        from social_media_data_pipeline_recession_political_sentiment_spark import dashboard as d

        if route == "politics_comments":
            return (
                f"WITH raw AS ({d._raw_sql('politics')}) SELECT created_utc FROM raw "
                f"WHERE created_utc >= TIMESTAMP '{start} 00:00:00' "
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
            return d._count_oracle(platform, start, end)
        col = "sentiment" if kind == "sentiment" else "is_hate_speech"
        return d._dist_oracle(platform, col, start, end)

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        con = oracle.connect(ctx.data_dir, self.tables)
        want: dict = {}
        for op in ops:
            if op.error is None:
                if op.key not in want:
                    want[op.key] = oracle.duckdb_digest(con, self.oracle_sql(*op.key))
                op.ok = oracle.digest(*op.result) == want[op.key]
        con.close()

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        return {
            "dashboard.build_s": float(np.median(self.build_s)),
            "dashboard.exec_p50_s": float(np.median([o.latency for o in ops])),
        }


# ------------------------------------------------------- registry queries
class QuerySweep(Workload):
    """A fixed list of registry queries per pass; one op is one query
    (plan build + collect), checked against the query's registered
    DuckDB oracle on the generated tables."""

    QUERIES: tuple = ()

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        from social_media_data_pipeline_recession_political_sentiment_spark import registry

        qs = registry.queries()
        return [
            run_op(ctx, layer_of(qs[q]), q, f"{self.name}:{tag}:{i}",
                   lambda fn=qs[q]: fn(ctx.spark, ctx.data_dir), key=q)
            for i, q in enumerate(self.QUERIES)
        ]

    PROBE = ""  # the set-up probe query

    def first_op(self, ctx: Ctx, tag: str) -> Op:
        from social_media_data_pipeline_recession_political_sentiment_spark import registry

        q = self.PROBE or self.QUERIES[0]
        fn = registry.queries()[q]
        return run_op(ctx, layer_of(fn), q, f"{self.name}:{tag}:0",
                      lambda: fn(ctx.spark, ctx.data_dir))

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        from social_media_data_pipeline_recession_political_sentiment_spark import registry

        oracles = registry.oracles()
        con = oracle.connect(ctx.data_dir, self.tables)
        want = {q: oracle.duckdb_digest(con, oracles[q]) for q in self.QUERIES}
        con.close()
        for op in ops:
            if op.error is None:
                op.ok = oracle.digest(*op.result) == want[op.key]

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        out: dict[str, float] = {}
        per_query: dict[str, list[float]] = {}
        for op in ops:
            per_query.setdefault(op.name, []).append(op.latency)
        n_pass = max(len(v) for v in per_query.values())
        for op in ops:
            if op.layer.startswith("operators."):
                key = f"{op.layer}_s"
                out[key] = out.get(key, 0.0) + op.latency / n_pass
        for q, lat in per_query.items():
            out[f"query.{q}_s"] = float(np.median(lat))
        return out


class Curation(QuerySweep):
    """The nightly corpus release: every pass starts with the session
    pins cleared, then runs the dedup / similarity / datacard /
    enrichment queries in order."""

    name = "curation"
    tables = ("documents", "embeddings")
    # the probe must not call a module-level pandas UDF: PySpark binds
    # such a UDF to the SparkContext of its first call, and the timed
    # passes run on the last set-up's context
    PROBE = "ext_corpus_datacard"
    N_DOCS, N_VECS, DUP_SHARE = 600, 400, 0.15
    QUERIES = (
        "ext_dedup_minhash",
        "ext_dedup_embcos",
        "ext_corpus_datacard",
        "enrich_table",
    )

    def generate(self, data_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.input_rows = gen.write_corpus(
            data_dir, rng, self.N_DOCS, self.N_VECS, self.DUP_SHARE
        )

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        from social_media_data_pipeline_recession_political_sentiment_spark import catalog

        catalog.clear_session_pins()
        return super().run_pass(ctx, tag)

    def first_op(self, ctx: Ctx, tag: str) -> Op:
        from social_media_data_pipeline_recession_political_sentiment_spark import catalog

        catalog.clear_session_pins()
        return super().first_op(ctx, tag)

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        from social_media_data_pipeline_recession_political_sentiment_spark import catalog

        out = super().layer_stats(ctx, ops)
        out["catalog.pins_built"] = len(catalog._SESSION_PINS)
        out["catalog.pin_evictions"] = len(catalog._EVICTIONS)
        return out


class Analytics(QuerySweep):
    """Ad-hoc relational reports over the events table (shared with the
    dashboard part, which writes it; one hot user holds
    ``Dashboard.HOT_SHARE`` of its rows) and the orders/customer tables,
    a quarter of whose order rows carry a NULL customer key in
    ``join_null_skew_split``."""

    name = "analytics"
    tables = ("events", "orders", "customer")
    N_ORDERS = 15_000
    QUERIES = (
        "agg_sessionize_batch",
        "join_asof_nearest",
        "agg_quantiles_exact_dist",
        "join_null_skew_split",
    )

    def generate(self, data_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 2])
        self.input_rows = gen.write_orders(data_dir, rng, self.N_ORDERS)


# ------------------------------------------------------------------ ingest
class Ingest(Workload):
    """The hourly catch-up run: drain fresh bronze listing pages into
    silver with ``streaming.ingest.ingest_to_silver`` (availableNow, one
    page per micro-batch), then build and collect gold with
    ``enrich_hatespeech`` -> ``enrich_sentiment`` -> ``clean_comment``.
    Ops are the micro-batches plus the gold build."""

    name = "ingest"
    tables = ()
    N_PAGES, PER_PAGE, REDELIVER, LATE = 4, 100, 0.05, 0.03

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.reset()

    def reset(self) -> None:
        self.last_execution = -1
        self.stream: dict[str, list] = {}
        self.silver_files: list[int] = []
        self.silver_bytes_per_row: list[float] = []
        self.gold_s: list[float] = []
        self.sources_s: list[float] = []

    def generate(self, data_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.pages, self.expected = gen.reddit_pages(
            rng, self.N_PAGES, self.PER_PAGE, self.REDELIVER, self.LATE, f"s{self.seed}"
        )
        self.input_rows = self.N_PAGES * self.PER_PAGE

    def _dirs(self, ctx: Ctx, tag: str) -> tuple[str, str, str, str]:
        root = os.path.join(ctx.work_dir, "ingest", tag)
        return root, *(os.path.join(root, d) for d in ("bronze", "silver", "ckpt"))

    def prepare(self, ctx: Ctx, tag: str) -> None:
        root, bronze, _silver, _ckpt = self._dirs(ctx, tag)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(bronze)
        base = time.time() - len(self.pages) - 10
        for i, page in enumerate(self.pages):
            path = os.path.join(bronze, f"page_{i:05d}.json")
            with open(path, "w") as f:
                f.write(page + "\n")
            os.utime(path, (base + i, base + i))  # file source reads in mtime order

    @staticmethod
    def gold_frame(spark, silver: str):
        from pyspark.sql import functions as F

        from social_media_data_pipeline_recession_political_sentiment_spark.enrich.hatespeech import (
            enrich_hatespeech,
        )
        from social_media_data_pipeline_recession_political_sentiment_spark.enrich.sentiment import (
            enrich_sentiment,
        )
        from social_media_data_pipeline_recession_political_sentiment_spark.functions.text import (
            clean_comment,
        )

        s = spark.read.parquet(silver).select("comment_id", "body")
        g = enrich_sentiment(enrich_hatespeech(s, text_col="body"), text_col="body")
        return g.select(
            "comment_id",
            F.col("body").alias("original_comment"),
            clean_comment(F.col("body")).alias("cleaned_comment"),
            "is_hate_speech",
            "hate_speech_confidence",
            "sentiment",
            "sentiment_score",
        )

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        from social_media_data_pipeline_recession_political_sentiment_spark.streaming.ingest import (
            ingest_to_silver,
        )

        _root, bronze, silver, ckpt = self._dirs(ctx, tag)
        ops: list[Op] = []
        drain = Op("streaming", "drain", f"ingest:{tag}:drain")
        ctx.spark.sparkContext.setJobGroup(drain.group, "drain")
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("streaming", "drain", drain.group):
                q = ingest_to_silver(ctx.spark, bronze, silver, ckpt)
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                self._batches(ctx, q, tag, ops)
        except Exception as e:  # noqa: BLE001 - a failed drain is a failed op
            drain.error = f"{type(e).__name__}: {str(e)[:300]}"
            drain.latency = time.perf_counter() - t0
            return [drain]
        self.stream.setdefault("drain_s", []).append(time.perf_counter() - t0)
        gold = run_op(ctx, "enrich", "gold", f"ingest:{tag}:gold",
                      lambda: self.gold_frame(ctx.spark, silver), key="gold")
        self.gold_s.append(gold.latency)
        return ops + [gold]

    def _batches(self, ctx: Ctx, q, tag: str, ops: list[Op]) -> None:
        progress = q.recentProgress
        offset = time.time() - time.perf_counter()
        parent = ctx.tracer.current()
        st = self.stream
        for p in progress:
            d = p.durationMs
            if p.numInputRows == 0:
                continue  # the trailing no-data batch: not a page
            trig = d.get("triggerExecution", 0) / 1000
            # the stream runs its jobs under its run id as job group
            ops.append(Op("streaming", f"batch{p.batchId}", str(q.runId),
                          latency=trig, key="silver"))
            for k, name in (("triggerExecution", "trigger"), ("addBatch", "addbatch"),
                            ("queryPlanning", "planning"), ("walCommit", "walcommit"),
                            ("commitOffsets", "commitoffsets")):
                st.setdefault(name, []).append(d.get(k, 0))
            st.setdefault("addbatch_seq", []).append(d.get("addBatch", 0))
            if ctx.tracer.enabled:
                ts = p.timestamp.replace("Z", "+00:00")
                start = dt.datetime.fromisoformat(ts).timestamp() - offset
                b = ctx.tracer.add("streaming", "batch", start, start + trig, parent, tag)
                pre = sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning",
                                                "walCommit")) / 1000
                s0 = min(start + pre, start + trig - d.get("addBatch", 0) / 1000)
                ctx.tracer.add("sinks", "add_batch", s0, s0 + d.get("addBatch", 0) / 1000, b, tag)
        last = [p for p in progress if p.stateOperators]
        if last:
            st.setdefault("state_rows", []).append(last[-1].stateOperators[0].numRowsTotal)
            st.setdefault("dropped", []).append(sum(
                p.stateOperators[0].numRowsDroppedByWatermark for p in last))

    def finish(self, ctx: Ctx, tag: str, ops: list[Op]) -> None:
        import pyarrow.parquet as pq

        root, bronze, silver, _ckpt = self._dirs(ctx, tag)
        if os.path.isdir(silver):
            files = [f for f in os.listdir(silver) if f.endswith(".parquet")]
            table = pq.read_table(silver)
            self.silver_files.append(len(files))
            self.silver_bytes_per_row.append(
                sum(os.path.getsize(os.path.join(silver, f)) for f in files)
                / max(1, table.num_rows)
            )
            ok = self._silver_ok(table)
            for op in ops:
                if op.key == "silver" and op.error is None:
                    op.ok = ok
        super().finish(ctx, tag, ops)
        if ctx.tracer.enabled:
            self._sources_baseline(ctx, tag, bronze)
        shutil.rmtree(root, ignore_errors=True)

    def moved_jobs(self, ctx: Ctx) -> dict[int, str]:
        # the micro-batches' silver appends are the sink's jobs
        ids, self.last_execution = write_jobs(ctx.spark, self.last_execution)
        return dict.fromkeys(ids, "sinks")

    def _sources_baseline(self, ctx: Ctx, tag: str, bronze: str) -> None:
        """The same bronze directory as ONE batch job: read + flatten +
        dropDuplicates. Its gap to the drain time is the per-micro-batch
        overhead."""
        from social_media_data_pipeline_recession_political_sentiment_spark.sources.rest_json import (
            flatten_reddit_listing,
            read_landed_pages,
        )

        group = f"ingest:{tag}:sources"
        ctx.spark.sparkContext.setJobGroup(group, "batch_flatten")
        t0 = time.perf_counter()
        with ctx.tracer.span("sources", "batch_flatten", group):
            flat = flatten_reddit_listing(read_landed_pages(ctx.spark, bronze))
            flat.dropDuplicates(["comment_id"]).collect()
        self.sources_s.append(time.perf_counter() - t0)
        add_work(ctx, group, "sources")

    def _silver_ok(self, table) -> bool:
        got = {}
        for r in table.select(
            ["comment_id", "subreddit", "post_id", "body", "score", "created_utc"]
        ).to_pylist():
            ts = r["created_utc"].replace(tzinfo=dt.timezone.utc).timestamp()
            got[r["comment_id"]] = (r["subreddit"], r["post_id"], r["body"], r["score"], int(ts))
        return got == self.expected and table.num_rows == len(self.expected)

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        import duckdb
        import pyarrow as pa

        from social_media_data_pipeline_recession_political_sentiment_spark import registry

        ids = sorted(self.expected)
        exp = pa.table({"comment_id": ids, "body": [self.expected[i][2] for i in ids]})
        con = duckdb.connect()
        con.register("expected_silver", exp)
        con.sql("CREATE VIEW documents AS SELECT comment_id AS doc_id, body AS text "
                "FROM expected_silver")
        want = oracle.duckdb_digest(con, registry.oracles()["enrich_table"])
        con.close()
        for op in ops:
            if op.key == "gold" and op.error is None:
                op.ok = oracle.digest(*op.result) == want

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        st = self.stream
        seq = st.get("addbatch_seq", [])
        k = max(1, len(seq) // 5)
        first, last = np.mean(seq[:k]) if seq else 0, np.mean(seq[-k:]) if seq else 0
        med = lambda key: float(np.median(st[key])) if st.get(key) else 0.0  # noqa: E731
        passes = max(1, len(st.get("drain_s", [])))
        out = {
            "streaming.drain_s": med("drain_s"),
            "streaming.batches": len(st.get("trigger", [])) / passes,
            "streaming.trigger_p50_ms": med("trigger"),
            "streaming.addbatch_p50_ms": med("addbatch"),
            "streaming.planning_p50_ms": med("planning"),
            "streaming.walcommit_p50_ms": med("walcommit"),
            "streaming.commitoffsets_p50_ms": med("commitoffsets"),
            "streaming.addbatch_last_over_first": float(last / first) if first else 0.0,
            "streaming.state_rows": med("state_rows"),
            "streaming.dropped_by_watermark": med("dropped"),
            "sources.batch_flatten_s": float(np.median(self.sources_s)) if self.sources_s else 0.0,
            "sinks.silver_files": float(np.median(self.silver_files)) if self.silver_files else 0.0,
            "sinks.silver_bytes_per_row": float(np.median(self.silver_bytes_per_row))
            if self.silver_bytes_per_row else 0.0,
            "enrich.gold_s": float(np.median(self.gold_s)) if self.gold_s else 0.0,
        }
        out["enrich.rows_per_s"] = len(self.expected) / out["enrich.gold_s"] if self.gold_s else 0.0
        return out


class Composite(Workload):
    """Parts run back to back in one pass, on one set of generated
    tables; the first part's first request is the set-up probe."""

    PARTS: tuple = ()

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.parts = [p(seed) for p in self.PARTS]
        self.tables = tuple(dict.fromkeys(t for p in self.parts for t in p.tables))

    def _each(self, ops: list[Op]):
        for p in self.parts:
            yield p, [o for o in ops if o.part == p.name]

    def generate(self, data_dir: str) -> None:
        for p in self.parts:
            p.generate(data_dir)
        self.input_rows = sum(p.input_rows for p in self.parts)

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def prepare(self, ctx: Ctx, tag: str) -> None:
        for p in self.parts:
            p.prepare(ctx, tag)

    def run_pass(self, ctx: Ctx, tag: str) -> list[Op]:
        ops = []
        for p in self.parts:
            for op in p.run_pass(ctx, tag):
                op.part = p.name
                ops.append(op)
        return ops

    def first_op(self, ctx: Ctx, tag: str) -> Op:
        return self.parts[0].first_op(ctx, tag)

    def finish(self, ctx: Ctx, tag: str, ops: list[Op]) -> None:
        for p, part_ops in self._each(ops):
            p.finish(ctx, tag, part_ops)

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        for p, part_ops in self._each(ops):
            p.check(ctx, part_ops)

    def layer_stats(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        out: dict[str, float] = {}
        for p, part_ops in self._each(ops):
            out.update(p.layer_stats(ctx, part_ops))
        return out


class Analyst(Composite):
    name = "analyst"
    PARTS = (Dashboard, Analytics)


class Pipeline(Composite):
    name = "pipeline"
    PARTS = (Curation, Ingest)


WORKLOADS = {w.name: w for w in (Analyst, Pipeline)}
