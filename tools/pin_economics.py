"""Pin economics record (VERDICT r13 item 2): per-query pass-1
(build-inclusive) vs pass-2 (cached) timings, plus which session-pin
tags were BUILT during which query — so every pin family's
one-time mine cost is published instead of laundered by the bench's
min-of-2. Same methodology as bench.py (same session factory, same
collect-timed loop, same sf/cpus env contract) but records BOTH
passes per query instead of the min.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python tools/pin_economics.py [out.json]

Output JSON:
    {"queries": {name: {"pass1": s, "pass2": s,
                        "pins_built_p1": [tags], "pins_built_p2": [tags]}},
     "pin_builds": {tag: {"built_during": query, "pass1": s, "pass2": s}}}

pin_builds attributes each tag to the query whose PASS-1 run built it.
Any pass-2 build (an eviction or a pin that never cached) is printed to
stderr and kept in that query's pins_built_p2.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from social_media_data_pipeline_recession_political_sentiment_spark import (  # noqa: E402
    catalog,
    registry,
)
from social_media_data_pipeline_recession_political_sentiment_spark.session import (  # noqa: E402
    get_session,
)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pin_economics.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    spark = get_session("smdp_pin_econ", cpus=cpus)

    qs = registry.queries()
    qs["agg_topk_groups"](spark, sf_dir).collect()  # warm-up (bench.py's)

    rec: dict = {}
    for pass_no in (1, 2):
        for name in sorted(qs):
            before = {k[1] for k in catalog._SESSION_PINS}
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            dt = round(time.perf_counter() - t0, 3)
            built = sorted({k[1] for k in catalog._SESSION_PINS} - before)
            r = rec.setdefault(name, {})
            r[f"pass{pass_no}"] = dt
            r[f"pins_built_p{pass_no}"] = built
            if pass_no == 2 and built:
                # a pass-2 build means a pin was evicted or never
                # cached: its pass-2 time is not a cached timing
                print(f"PASS-2 PIN BUILD: {name} rebuilt {built}", file=sys.stderr)

    pin_builds = {}
    for name, r in rec.items():
        for tag in r["pins_built_p1"]:
            pin_builds.setdefault(tag, {
                "built_during": name,
                "pass1": r["pass1"],
                "pass2": r["pass2"],
            })
    payload = {"sf_dir": sf_dir, "cpus": cpus, "queries": rec,
               "pin_builds": pin_builds}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    built = {p: sum(len(r[f"pins_built_p{p}"]) for r in rec.values()) for p in (1, 2)}
    print(f"wrote {out_path}: {len(rec)} queries, {built[1]} pass-1 pin builds "
          f"across {len(pin_builds)} tags, {built[2]} pass-2 pin builds")


if __name__ == "__main__":
    main()
