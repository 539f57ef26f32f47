"""Python only where a model needs it: a registry-wide plan guard.

Every registered query is built at the smoke SF and its executed plan
string is searched for Python evaluation nodes. A query that plans one
must be on ALLOW with a one-line reason; an ALLOW entry whose query no
longer plans one must be removed, so the list only shrinks.
"""

from __future__ import annotations

from social_media_data_pipeline_recession_political_sentiment_spark import registry
from tests.conftest import SF_SMOKE

# Physical node names of Python evaluation. Spark 4 renamed the pandas
# aggregate and window nodes, so both spellings are searched.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowAggregatePython",
    "ArrowWindowPython",
)

ALLOW = {
    # NumPy vector kernels: the one pair kernel of similarity.py through
    # its block-triangle or block-probe layout, or IVF's `_fold_d2`
    "ext_dedup_embcos": "pair kernel, block triangle: cosine cut",
    "ext_dedup_embcos_lsh": "pair kernel, block triangle per salted LSH bucket",
    "ext_dedup_embcos_lsh_verify": "reads the LSH mine scored per bucket in NumPy",
    "ext_dedup_embcos_incremental": "pair kernel, block probe: cosine flag",
    "ext_dedup_embcos_incremental_lsh": "reads the LSH mine scored per bucket in NumPy",
    "stream_embcos_incremental_chain": "pair kernel, block probe: cosine flag at drain",
    "ext_sim_lsh": "pair kernel, block triangle per salted LSH bucket",
    "ext_sim_lsh_verify": "reads the LSH mine scored per bucket in NumPy",
    "ext_sim_lsh_recall": "pair kernel, block triangle: d² cut (recall denominator)",
    "ext_sim_knn_graph": "pair kernel, block triangle: per-block partial top-k",
    "ext_label_knn_noise": "reads ext_sim_knn_graph's block-triangle scorer",
    "ext_triplet_margin_audit": "pair kernel, block probe: per-block partial max cosine",
    "ext_emb_gram_int8": "partition-local NumPy int8 Gram partials",
    "ext_sim_ivf": "IVF list assignment and probe scoring in NumPy",
    "ext_sim_ivf_exhaustive": "IVF list assignment and probe scoring in NumPy",
    "ext_sim_ivf_recall": "IVF list assignment and probe scoring in NumPy",
    # no native equivalent in Spark
    "fn_unicode_nfc": "Spark has no Unicode normalizer; Arrow UDF over unicodedata",
    "ext_mm_decode_stub": "per-payload media codec, which needs Python",
    "ext_mm_frame_sample": "per-payload media codec, which needs Python",
    "ext_mm_resize_stub": "per-payload media codec, which needs Python",
    # demonstrations of a Python surface or a sequential sketch
    "udaf_value_range": "the grouped-aggregate pandas UDF surface it demonstrates",
    "agg_ewma_volume": "integer EWMA recurrence over a calendar-bounded series",
    "agg_heavy_hitters_mg": "partition-local Misra-Gries summary in Arrow batches",
}


def test_python_nodes_only_on_the_allow_list(spark):
    """Builds every registered query's plan (no action on the returned
    frame) and fails on a Python node outside ALLOW.

    The walk sees only the plan of the returned frame, including any
    persisted (`session_pin`) subplan it reads. It cannot see Python
    that runs behind a `compute_once`/`localCheckpoint` (the plan shows
    only the checkpointed RDD scan), nor Python in a driver-side
    collect whose result is folded into the returned plan as literals
    or a new relation."""
    found = {}
    for name, build in registry.queries().items():
        plan = build(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        nodes = [n for n in PYTHON_NODES if n in plan]
        if nodes:
            found[name] = nodes
    unexpected = {k: v for k, v in found.items() if k not in ALLOW}
    stale = sorted(set(ALLOW) - set(found))
    assert unexpected == {}, f"Python nodes outside ALLOW: {unexpected}"
    assert stale == [], f"ALLOW entries that plan no Python node: {stale}"
