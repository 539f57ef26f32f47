"""Corpus-scan multiplicity audit: for every registered query, count
how many times each parquet table appears as a Scan node in the
physical plan. Spark does not deduplicate common DataFrame subplans —
a branch-per-aggregate crossJoin (or a self-join of a derived
aggregate) silently re-reads the source once per branch, which is
invisible at sf0.1 and a 2-3x corpus-read bill at 100 TB.

    python tools/scan_count_audit.py            # all queries
    python tools/scan_count_audit.py name ...   # subset

Output: one line per (query, table) with count > 1, plus a summary.
Multi-scans are not automatically wrong (unions of genuinely
different projections/filters of one table can beat one wide scan;
iterative ops re-scan checkpoints, not parquet) — every flagged row
needs a human verdict: fixed, or justified in the operator's
docstring.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from collections import Counter

REPO = "/root/repo"
sys.path.insert(0, REPO)

from social_media_data_pipeline_recession_political_sentiment_spark.registry import (  # noqa: E402
    queries,
)
from social_media_data_pipeline_recession_political_sentiment_spark.session import (  # noqa: E402
    get_session,
)

SF_DIR = "/root/testdata/sf0.01"

_LOC = re.compile(r"Location: \w+ \[[^\]]*?([\w.]+\.(?:parquet|csv|json))")


def scan_counts(df) -> Counter:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # the detail section repeats each tree node once; halve by using
    # only the numbered detail blocks ("(n) Scan parquet")
    tables = Counter()
    for block in re.split(r"\n\(\d+\) ", text):
        # ExistingRDD = a compute_once/localCheckpoint cache read, not
        # a source re-scan; only file scans bill at 100 TB
        if block.startswith("Scan ") and not block.startswith(
            "Scan ExistingRDD"
        ):
            m = _LOC.search(block)
            tables[m.group(1) if m else "<unknown>"] += 1
    return tables


def main() -> int:
    names = sys.argv[1:]
    spark = get_session("scan-audit")
    qs = queries()
    todo = names or sorted(qs)
    flagged = 0
    for name in todo:
        try:
            df = qs[name](spark, SF_DIR)
            counts = scan_counts(df)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: {type(exc).__name__}: {exc}")
            continue
        multi = {t: c for t, c in counts.items() if c > 1}
        if multi:
            flagged += 1
            detail = ", ".join(f"{t}x{c}" for t, c in sorted(multi.items()))
            print(f"MULTI {name}: {detail}", flush=True)
    print(f"\n{flagged} of {len(todo)} queries scan some table more than once")
    return 0


if __name__ == "__main__":
    main()
