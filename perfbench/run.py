"""Benchmark of the social-media analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: dashboard, ingest, curation,
analytics (see workloads.py and README.md). One process, one client in
a closed loop, Spark ``local[k]`` with k = min(4, cpu count).

The run generates its inputs from the seed under ``.perfbench_run/``,
sets Spark up ``SETUPS`` times (each a fresh SparkContext answering the
first request of a pass), runs ``WARMUP_PASSES`` untimed passes, then
runs whole passes until ``--seconds`` have elapsed, checks every op's output against DuckDB and prints one
JSON line. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it alternates untraced and traced passes and reports
per-layer metrics: self time per layer from the benchmark's own spans,
Spark jobs/stages/tasks per layer from the status tracker, and the
tracing overhead (traced minus untraced pass time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "social_media_data_pipeline_recession_political_sentiment_spark"
SETUPS = 3
WARMUP_PASSES = 2
CPUS = min(4, os.cpu_count() or 1)
LAYERS = (
    "session", "catalog", "dashboard", "streaming", "sources", "sinks", "enrich",
    "operators.dedup", "operators.similarity", "operators.text_analysis",
    "operators.relational",
)
COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
TAIL_GRID = (99.9, 99, 95, 90, 85, 80, 75, 70, 65, 60, 55, 50)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of the grid with at
    least ten samples beyond it; the median when there are fewer."""
    import numpy as np

    n = len(latencies)
    pct = next((p for p in TAIL_GRID if n * (1 - p / 100) >= 10), 50)
    return pct, float(np.percentile(latencies, pct))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the Spark JVM")


def isolate(run_dir: str) -> None:
    """Keep everything this run writes inside its own directory and put
    the repository on the Python workers' import path (pandas UDFs and
    mapInPandas import the package in the worker)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SMDP_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    held: dict = {}  # the live SparkSession, for clean-up on any exit
    try:
        isolate(run_dir)
        wl = WORKLOADS[args.workload](args.seed)
        t0 = time.perf_counter()
        wl.generate(data_dir)
        print(f"perfbench: generated inputs in {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        tracer = Tracer(False)
        result, summary = run(wl, args, data_dir, run_dir, tracer, held)
        if args.trace:
            tracer.write(os.path.join(out_dir, f"{args.workload}.spans.jsonl"))
    finally:
        if "spark" in held:
            stop_spark(held["spark"])
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(summary)
    print(json.dumps(result))
    return 0


def run(wl, args, data_dir, run_dir, tracer, held):
    from workloads import Ctx, add_work

    from social_media_data_pipeline_recession_political_sentiment_spark import catalog, registry
    from social_media_data_pipeline_recession_political_sentiment_spark.session import get_session

    # a fixed-size heap (-Xms = spark.driver.memory) keeps the JVM's peak
    # RSS from following the adaptive heap-sizing heuristics run to run
    extra = {"spark.driver.extraJavaOptions":
             f"-Xms{os.environ['SMDP_DRIVER_MEM']} -Djava.io.tmpdir={os.environ['TMPDIR']}"}
    spark = None
    setups = []
    phases = {"get_session": [], "load_all": [], "catalog": [], "first_op": []}
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = held["spark"] = get_session("perfbench", cpus=CPUS, extra_confs=extra)
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        group = f"{wl.name}:s{i}:catalog"
        spark.sparkContext.setJobGroup(group, "catalog")
        for t in wl.tables:
            catalog.load(spark, data_dir, t)
        t3 = time.perf_counter()
        ctx = Ctx(spark, data_dir, run_dir, tracer)
        probe = wl.first_op(ctx, f"s{i}")
        if probe.error is not None:
            raise RuntimeError(f"set-up request failed: {probe.error}")
        t4 = time.perf_counter()
        if args.trace:  # set-up work counts under session and catalog
            add_work(ctx, probe.group, "session")
            add_work(ctx, group, "catalog")
        for k, v in zip(phases, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            phases[k].append(v)
        setups.append(t4 - t0)
    # untimed warm-up passes on the last session: after one, the JIT is
    # still compiling and the first timed ops run up to 1.9x slower
    phases["warmup"] = [0.0]
    for i in range(WARMUP_PASSES):
        wl.prepare(ctx, f"w{i}")
        t0 = time.perf_counter()
        ops = wl.run_pass(ctx, f"w{i}")
        phases["warmup"][0] += time.perf_counter() - t0
        wl.finish(ctx, f"w{i}", ops)
    wl.reset()

    # timed window: whole passes until --seconds have elapsed; with
    # tracing, at least four passes, untraced and traced in ABBA order
    ops, walls = [], {False: [], True: []}
    t_end = time.perf_counter() + args.seconds
    n = 0
    while True:
        traced = bool(args.trace) and n % 4 in (1, 2)
        tracer.enabled = traced
        tag = f"p{n}"
        wl.prepare(ctx, tag)
        t0 = time.perf_counter()
        with tracer.span("workload", "pass", tag):
            pass_ops = wl.run_pass(ctx, tag)
        walls[traced].append(time.perf_counter() - t0)
        wl.finish(ctx, tag, pass_ops)
        tracer.enabled = False
        ops.extend(pass_ops)
        n += 1
        if time.perf_counter() >= t_end and (not args.trace or n >= 4):
            break
    peak_rss = jvm_peak_rss_mb(spark)
    print(f"perfbench: warm-up {phases['warmup'][0]:.1f} s, passes "
          f"{', '.join(f'{w:.2f}' for w in walls[False] + walls[True])} s", file=sys.stderr)
    t0 = time.perf_counter()
    wl.check(ctx, ops)
    print(f"perfbench: checked outputs in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    failed = sum(1 for o in ops if o.error is not None or o.ok is not True)
    for o in ops:
        status = "ok" if o.error is None and o.ok is True else (o.error or "wrong result")
        print(f"perfbench: op {o.group} {o.name} {o.latency:.3f} s {status}", file=sys.stderr)
    lat = [o.latency for o in ops]
    all_walls = walls[False] + walls[True]
    wall = statistics.median(all_walls)
    pct, tail_s = tail(lat)
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (wall, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "ops_per_s": (len(ops) / sum(all_walls), "1/s"),
            "rows_per_s": (wl.input_rows / wall, "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    else:
        metrics = layer_metrics(wl, ctx, ops, tracer, walls, phases, failed, pct)
    summary = (
        f"perfbench {wl.name} seed={args.seed} trace={args.trace}: {n} passes, "
        f"{len(ops)} ops, {failed} failed; op_tail_s is p{pct:g} of {len(ops)} ops; "
        f"setups {', '.join(f'{s:.2f}' for s in setups)} s; input rows {wl.input_rows}"
    )
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, summary


def unit_of(name: str) -> str:
    for suffix, unit in (("rows_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("bytes_per_row", "B"), ("_over_first", "ratio"),
                         ("fail_ratio", "ratio"), ("_pct", "pct")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    from workloads import Analytics, Curation

    names = [
        "session.jvm_start_s", "session.get_session_s", "registry.load_all_s",
        "session.first_op_s", "session.warmup_s", "catalog.load_cold_s", "catalog.pins_built",
        "catalog.pin_evictions", "dashboard.build_s", "dashboard.exec_p50_s",
        "streaming.drain_s", "streaming.batches", "streaming.trigger_p50_ms",
        "streaming.addbatch_p50_ms", "streaming.planning_p50_ms",
        "streaming.walcommit_p50_ms", "streaming.commitoffsets_p50_ms",
        "streaming.addbatch_last_over_first", "streaming.state_rows",
        "streaming.dropped_by_watermark", "sources.batch_flatten_s",
        "sinks.silver_files", "sinks.silver_bytes_per_row", "enrich.gold_s",
        "enrich.rows_per_s", "operators.dedup_s", "operators.similarity_s",
        "operators.text_analysis_s", "operators.relational_s",
    ]
    names += [f"query.{q}_s" for q in Curation.QUERIES + Analytics.QUERIES]
    for layer in LAYERS:
        names += [f"{layer}.self_s"] + [f"{layer}.{c}" for c in COUNTS]
    return names + ["trace.overhead_s", "trace.spans", "fail_ratio", "op_tail_pct",
                    "op_tail_samples"]


def layer_metrics(wl, ctx, ops, tracer, walls, phases, failed, pct):
    """Every per-layer metric; a layer this workload does not reach
    reads 0. Self time and Spark work are per traced pass, except for
    the set-up layers (session, catalog), which are per set-up."""
    n_traced = max(1, len(walls[True]))
    v: dict[str, float] = {
        "session.jvm_start_s": phases["get_session"][0],
        "session.get_session_s": statistics.median(phases["get_session"]),
        "registry.load_all_s": phases["load_all"][0],
        "session.warmup_s": statistics.median(phases["warmup"]),
        "catalog.load_cold_s": statistics.median(phases["catalog"]),
        "session.self_s": statistics.median(
            a + b + c for a, b, c in zip(phases["get_session"], phases["load_all"],
                                         phases["first_op"])),
        "session.first_op_s": statistics.median(phases["first_op"]),
        "catalog.self_s": statistics.median(phases["catalog"]),
        "trace.overhead_s": statistics.median(walls[True]) - statistics.median(walls[False]),
        "trace.spans": len(tracer.spans) / n_traced,
        "fail_ratio": failed / max(1, len(ops)),
        "op_tail_pct": pct,
        "op_tail_samples": len(ops),
    }
    v.update(wl.layer_stats(ctx, ops))
    for layer, t in tracer.self_times().items():
        v.setdefault(f"{layer}.self_s", t / n_traced)
    for key, total in ctx.work.items():
        per = SETUPS if key.split(".")[0] in ("session", "catalog") else n_traced
        v[key] = total / per
    return {k: (float(v.get(k, 0.0)), unit_of(k)) for k in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
