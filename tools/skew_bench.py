"""Skew evidence for the salted-join pattern (`join_salted_skew`).

`.explain()` shows the salted plan SHAPE at sf0.01; this tool shows the
salted WIN on data where it matters: a zipf-like fact table (one key
owns ~80% of rows) joined to a per-key dim with AQE's skew-join
split and broadcast DISABLED — isolating what explicit salting buys
when neither rescue applies (both-sides-big, extreme key). Appends a
"Skew-join evidence" appendix to BASELINE.md with best-of-3 timings
and the salted plan excerpt. Usage:

    python tools/skew_bench.py [n_rows]
"""

from __future__ import annotations

import contextlib
import io
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from social_media_data_pipeline_recession_political_sentiment_spark.session import (  # noqa: E402
    get_session,
)

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
N_KEYS = 50
HOT_SHARE = 0.8  # key 0 owns ~80% of fact rows
SALT_N = 8
RUNS = 3


def build_fact(spark):
    # deterministic zipf-ish skew: hash-derived uniform u in [0,1);
    # u < HOT_SHARE -> key 0, else uniform over the other keys
    u = F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0
    return spark.range(N_ROWS).select(
        F.col("id").alias("event_id"),
        F.when(u < HOT_SHARE, F.lit(0))
        .otherwise(1 + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(N_KEYS - 1)))
        .cast("long")
        .alias("key"),
        (F.pmod(F.xxhash64("id", F.lit(13)), F.lit(10_000)) / 100.0).alias("value"),
    )


def naive_join(fact, dim):
    return fact.join(dim.hint("shuffle_hash"), "key").agg(
        F.sum(F.col("value") + F.col("key_max")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def salted_join(fact, dim):
    dim_rep = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_N)]))
    )
    f = fact.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_N)))
    return f.join(dim_rep.hint("shuffle_hash"), ["key", "salt"]).agg(
        F.sum(F.col("value") + F.col("key_max")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def main() -> None:
    spark = get_session("skew_bench")
    # isolate the pattern: no AQE skew split, no broadcast rescue
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    fact = build_fact(spark).localCheckpoint(eager=True)  # time joins, not genesis
    dim = fact.groupBy("key").agg(F.max("value").alias("key_max")).localCheckpoint(
        eager=True
    )

    results = {}
    checks = {}
    for name, fn in (("naive", naive_join), ("salted", salted_join)):
        best = None
        for _ in range(RUNS):
            t0 = time.perf_counter()
            row = fn(fact, dim).collect()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = best
        checks[name] = (row["n"], round(row["s"], 3))
    assert checks["naive"] == checks["salted"], checks  # same join semantics

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(fact, dim).explain("formatted")
    plan = buf.getvalue()
    # keep only the tree + the salted exchange argument lines
    tree = plan.split("\n\n")[0]
    salt_lines = [
        line.strip()
        for line in plan.splitlines()
        if "hashpartitioning" in line and "salt" in line
    ]

    ratio = results["naive"] / results["salted"]
    stamp = time.strftime("%Y-%m-%d")
    section = [
        "",
        "## Skew-join evidence (r5 appendix)",
        "",
        f"`tools/skew_bench.py` ({stamp}): {N_ROWS:,}-row fact, {N_KEYS} keys,",
        f"key 0 owning ~{int(HOT_SHARE * 100)}% of rows, joined to a per-key dim with",
        "AQE skew-split and broadcast DISABLED (both-sides-big regime). Best",
        f"of {RUNS}, local[32]; identical (count, checksum) on both variants:",
        "",
        "| variant | join keyed on | wall (s) | vs salted |",
        "|---|---|---|---|",
        f"| naive shuffle join | key | {results['naive']:.2f} | {ratio:.2f}× |",
        f"| salted (SALT_N={SALT_N}) | (key, salt) | {results['salted']:.2f} | 1.00× |",
        "",
        "The naive plan funnels the hot key's partition through one",
        "reducer; the salted exchange spreads it over SALT_N. Salted-plan",
        "exchange keys (from `.explain`):",
        "",
        "```",
        *salt_lines,
        "```",
        "",
        "Salted physical plan tree:",
        "",
        "```",
        tree,
        "```",
    ]
    with open(f"{REPO}/BASELINE.md", "a") as f:
        f.write("\n".join(section) + "\n")
    print(
        f"naive {results['naive']:.2f}s vs salted {results['salted']:.2f}s "
        f"({ratio:.2f}x); appendix appended to BASELINE.md"
    )


if __name__ == "__main__":
    main()
