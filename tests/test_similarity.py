"""Similarity search properties: hand-checked cosine ordering,
LSH recall vs brute force (SURVEY §2.10)."""

from __future__ import annotations

import math
import os
import tempfile

from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
from tests.conftest import SF_SMOKE


def _emb_dir(spark, rows):
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    tmp = tempfile.mkdtemp(prefix="smdp_sim_")
    d.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    return tmp


def test_topk_hand_checked_ordering(spark):
    rows = [
        (0, [1.0, 0.0], 0),       # query
        (1, [1.0, 0.1], 0),       # cos ~ .995
        (2, [1.0, 1.0], 0),       # cos ~ .707
        (3, [0.0, 1.0], 0),       # cos 0
        (4, [-1.0, 0.0], 0),      # cos -1
    ]
    tmp = _emb_dir(spark, rows)
    out = [
        (r.neighbor_id, r.cos)
        for r in queries()["ext_sim_topk"](spark, tmp).filter("query_id = 0").orderBy("rank").collect()
    ]
    assert [n for n, _ in out] == [1, 2, 3, 4]
    assert abs(out[0][1] - 1 / math.sqrt(1.01)) < 1e-6
    assert abs(out[1][1] - 1 / math.sqrt(2)) < 1e-6


def test_topk_excludes_self_and_caps_k(spark):
    out = queries()["ext_sim_topk"](spark, SF_SMOKE).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, 11))


def test_ivf_recall_vs_exact_topk(spark):
    """IVF's approximate top-k should recover most of the exact top-10
    per query when probing nlist/4 lists."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in queries()["ext_sim_topk"](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in queries()["ext_sim_ivf"](spark, SF_SMOKE).collect()
    }
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall  # nprobe/nlist = 1/4 of lists scanned


def test_lsh_recall_vs_brute_force(spark):
    """Each query vector's true nearest neighbor (by euclidean, which
    the LSH buckets) should appear among LSH candidate pairs for a
    healthy parameterization."""
    cand = queries()["ext_sim_lsh"](spark, SF_SMOKE).collect()
    pairs = {(r.vec_a, r.vec_b) for r in cand}
    assert len(pairs) > 0
    # brute-force: nearest euclidean neighbor of vec 0..4
    import numpy as np

    emb = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    hits = 0
    for q in range(5):
        dists = {i: np.linalg.norm(emb[q] - v) for i, v in emb.items() if i != q}
        nn = min(dists, key=dists.get)
        if (min(q, nn), max(q, nn)) in pairs:
            hits += 1
    assert hits >= 3  # recall >= 60% on the 5 probes for this config


def test_vector_ops_tolerate_empty_corpus(spark):
    """Empty embeddings table => empty result, not a crash (the
    broadcast-build paths need rows for np.stack)."""
    rows = []
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    tmp = tempfile.mkdtemp(prefix="smdp_sim_empty_")
    d.write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    for q in ("ext_dedup_embcos", "ext_sim_ivf", "ext_sim_lsh", "ext_sim_knn_graph"):
        assert queries()[q](spark, tmp).count() == 0, q


def test_lsh_degenerate_bucket_salting(spark, monkeypatch):
    """All-identical-vector corpus: every vector lands in ONE bucket
    per table. The skew guard must salt that bucket into bounded
    sub-block pairs while still finding every one of the C(n,2)
    zero-distance pairs exactly once."""
    import social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "LSH_BUCKET_CAP", 40)
    n = 200
    # EMB_DIM-wide since r12: the miner's inlined plane literals (and
    # its dim guard) are pinned to the oracle's dimensionality
    rows = [(i, [float(j % 4 + 1) for j in range(sim.EMB_DIM)], 0) for i in range(n)]
    tmp = _emb_dir(spark, rows)
    out = queries()["ext_sim_lsh"](spark, tmp).collect()
    assert len(out) == n * (n - 1) // 2  # every pair, no dupes, none lost
    assert all(r.dist == 0.0 for r in out)


def test_lsh_salting_preserves_pairs_vs_unsalted(spark, monkeypatch):
    """Forcing salting on a normal corpus must not change the result
    set (triangle cover is exact, not approximate)."""
    import random

    import social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity as sim

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(sim.EMB_DIM)], 0)
        for i in range(120)
    ]
    tmp = _emb_dir(spark, rows)
    baseline = {(r.vec_a, r.vec_b) for r in queries()["ext_sim_lsh"](spark, tmp).collect()}
    monkeypatch.setattr(sim, "LSH_BUCKET_CAP", 16)
    salted = {(r.vec_a, r.vec_b) for r in queries()["ext_sim_lsh"](spark, tmp).collect()}
    assert salted == baseline


def test_embcos_lsh_recall_vs_exact(spark):
    """The composed approximate miner (unit-normalize -> salted LSH ->
    cosine back-conversion) recovers most exact near-dup pairs, and
    every returned cosine clears the threshold."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in queries()["ext_dedup_embcos"](spark, SF_SMOKE).collect()
    }
    rows = queries()["ext_dedup_embcos_lsh"](spark, SF_SMOKE).collect()
    approx = {(r.vec_a, r.vec_b) for r in rows}
    assert all(r.cos >= 0.4 - 1e-9 for r in rows)
    assert len(exact & approx) / max(len(exact), 1) >= 0.8


def test_emb_norm_census_positive_and_flag_consistent(spark):
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from tests.conftest import SF_SMOKE

    rows = queries()["ext_emb_norm"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.l2_norm > 0.0
        assert r.near_unit == (abs(r.l2_norm - 1.0) <= 0.01)


def test_ivf_exhaustive_equals_brute_force(spark):
    # probe-all IVF must degrade to exact brute force: same (query,
    # neighbor, rank) triples as ext_sim_topk at smoke SF
    from tests.conftest import SF_SMOKE

    a = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in queries()["ext_sim_ivf_exhaustive"](spark, SF_SMOKE).collect()
    }
    b = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in queries()["ext_sim_topk"](spark, SF_SMOKE).collect()
    }
    assert a == b


def test_knn_graph_tie_break_on_identical_vectors(spark):
    """All-identical vectors make every cosine tie at 1.0; the graph
    must resolve ranks deterministically by neighbor_id ascending —
    the classic flake source for top-k operators — and respect the
    cross-block partial top-k (ids chosen to span several blocks)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        KNN_K,
    )

    n = 6  # ids 0..5 span blocks 0..5 of the 8-block triangle join
    rows = [(i, [1.0, 2.0], 0) for i in range(n)]
    tmp = _emb_dir(spark, rows)
    out = queries()["ext_sim_knn_graph"](spark, tmp).collect()
    got = {}
    for r in out:
        got.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cos))
    assert set(got) == set(range(n))
    for v, neigh in got.items():
        neigh.sort()
        expect_ids = [i for i in range(n) if i != v][:KNN_K]
        assert [x[1] for x in neigh] == expect_ids, (v, neigh)
        assert all(abs(x[2] - 1.0) < 1e-12 for x in neigh)


def test_semantic_dedup_keeper_invariants(spark):
    """Exactly one keeper per component, keeper id == component id,
    cluster sizes partition the corpus."""
    out = queries()["ext_dedup_semantic"](spark, SF_SMOKE).collect()
    comps = {}
    for r in out:
        comps.setdefault(r.component, []).append(r)
    total = 0
    for comp, members in comps.items():
        keepers = [r for r in members if r.is_keeper]
        assert len(keepers) == 1 and keepers[0].vec_id == comp
        assert {r.cluster_size for r in members} == {len(members)}
        total += len(members)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert total == emb.count()


def test_knn_graph_matches_numpy_brute_force_random(spark):
    """Seeded random corpus: the block-partial-top-k kNN graph must
    equal a straightforward NumPy brute force under the same
    (cos DESC, id ASC) order — guards the exactness argument (global
    top-k ⊆ union of per-block top-ks) beyond the driver fixtures."""
    import random

    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        KNN_K,
    )

    rng = random.Random(11)
    n, dim = 97, 6  # odd n: blocks of unequal sizes
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)], 0) for i in range(n)]
    tmp = _emb_dir(spark, rows)
    got = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in queries()["ext_sim_knn_graph"](spark, tmp).collect()
    }
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    for v in range(n):
        order = sorted(
            (i for i in range(n) if i != v), key=lambda i: (-cos[v, i], i)
        )[:KNN_K]
        for rank, nb in enumerate(order, start=1):
            assert got[(v, rank)] == nb, (v, rank, nb, got[(v, rank)])


def test_emb_quantize_reconstruction_and_saturation(spark):
    """Int8 absmax quantization contracts: the absmax element maps to
    exactly +/-127 (so every nonzero vector saturates at least once),
    reconstruction error is bounded by scale/2 elementwise, and a
    zero vector yields scale 0 with an all-zero code block."""
    from tests.conftest import SF_SMOKE

    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    from pyspark.sql import functions as F

    rows = queries()["ext_emb_quantize"](spark, SF_SMOKE).collect()
    stats = {r.vec_id: r for r in rows}
    raw = {
        r.vec_id: np.asarray(r.dv, dtype=np.float64)
        for r in load(spark, SF_SMOKE, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("dv"))
        .collect()
    }
    assert set(stats) == set(raw)
    for vid, v in raw.items():
        s = stats[vid]
        amax = np.abs(v).max()
        if amax == 0.0:
            assert s.scale == 0.0 and s.q_sum == 0 and s.q_l1 == 0 and s.n_sat == 0
            continue
        scale = amax / 127.0
        codes = np.clip(np.floor(v / scale + 0.5), -127, 127).astype(np.int64)
        assert s.n_sat >= 1, vid  # the absmax element saturates
        assert s.q_sum == int(codes.sum()), vid
        assert s.q_l1 == int(np.abs(codes).sum()), vid
        # reconstruction error bound (half a quantization step)
        err = np.abs(v - codes * scale).max()
        assert err <= scale / 2 + 1e-12, vid


def test_int8_topk_recall_vs_float_topk(spark):
    """Quantized-index ranking contract: int8 scores are a faithful
    compression of the float ranking — per-query top-k overlap >= 80%
    on the fixture, and every int_dot the operator emits equals the
    NumPy integer dot of the independently re-derived codes."""
    from tests.conftest import SF_SMOKE

    import numpy as np

    from pyspark.sql import functions as F
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        TOP_K,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    int8 = queries()["ext_sim_topk_int8"](spark, SF_SMOKE).collect()
    flt = queries()["ext_sim_topk"](spark, SF_SMOKE).collect()
    by_q_int8, by_q_flt = {}, {}
    for r in int8:
        by_q_int8.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in flt:
        by_q_flt.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(by_q_int8) == set(by_q_flt)
    for qid in by_q_flt:
        overlap = len(by_q_int8[qid] & by_q_flt[qid]) / TOP_K
        assert overlap >= 0.8, (qid, overlap)

    raw = {
        r.vec_id: np.asarray(r.dv, dtype=np.float64)
        for r in load(spark, SF_SMOKE, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("dv"))
        .collect()
    }

    def codes(v):
        amax = np.abs(v).max()
        if amax == 0.0:
            return np.zeros(len(v), dtype=np.int64)
        return np.clip(np.floor(v / (amax / 127.0) + 0.5), -127, 127).astype(
            np.int64
        )

    for r in int8:
        expect = int(codes(raw[r.query_id]) @ codes(raw[r.neighbor_id]))
        assert r.int_dot == expect, (r.query_id, r.neighbor_id)


def test_label_balance_shares_and_centroid_reconstruction(spark):
    """ext_label_balance shares sum to ~1000; ext_emb_centroids_int8
    cells reconcile with a per-label numpy recompute of quantized
    code sums."""
    import numpy as np

    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    bal = queries()["ext_label_balance"](spark, SF_SMOKE).collect()
    total = sum(r.n_vecs for r in bal)
    assert total == spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert all(r.share_permille == r.n_vecs * 1000 // total for r in bal)
    mx = max(r.n_vecs for r in bal)
    assert any(r.ratio_to_max_permille == 1000 and r.n_vecs == mx for r in bal)

    cells = queries()["ext_emb_centroids_int8"](spark, SF_SMOKE).collect()
    embs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    sums, counts = {}, {}
    for r in embs:
        v = np.asarray(r.embedding, dtype=np.float64)
        amax = np.abs(v).max()
        codes = (
            np.zeros(len(v), dtype=np.int64)
            if amax == 0.0
            else np.clip(np.floor(v / (amax / 127.0) + 0.5), -127, 127).astype(np.int64)
        )
        sums[r.label] = sums.get(r.label, np.zeros(len(v), dtype=np.int64)) + codes
        counts[r.label] = counts.get(r.label, 0) + 1
    def truncdiv(a, b):
        # Spark `div` and DuckDB `//` truncate toward zero on
        # negatives; python // floors — recompute with their rule
        q = abs(a) // b
        return q if a >= 0 else -q

    for c in cells:
        assert c.code_sum == int(sums[c.label][c.dim])
        assert c.n_vecs == counts[c.label]
        assert c.centroid_micros == truncdiv(c.code_sum * 1_000_000, c.n_vecs)
    assert len(cells) == len(sums) * len(next(iter(sums.values())))


def test_ivf_train_cap_binds_at_every_sf(spark, monkeypatch):
    """IVF_TRAIN_CAP is a CONTRACT (VERDICT r5 item 6): the quantizer
    sample collected to the driver never exceeds the cap regardless of
    corpus size, and it rides a TakeOrderedAndProject (per-partition
    heap merge), never a global sort or full collect."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_recession_political_sentiment_spark.operators import (
        similarity as sim,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_corpus = e.count()
    assert n_corpus > 16  # the monkeypatched cap must actually bind
    # assert on the OPERATOR'S OWN sample plan (the helper
    # _ivf_scored collects), not a test-local reconstruction
    sample_plan = (
        sim._ivf_train_sample(e)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in sample_plan
    assert f"limit={sim.IVF_TRAIN_CAP}," in sample_plan.replace(" ", "")

    # cap << corpus: the operator still runs end-to-end and its driver
    # sample is bounded by the cap, proving O(cap x dim) driver memory
    # at ANY scale factor
    monkeypatch.setattr(sim, "IVF_TRAIN_CAP", 16)
    out = queries()["ext_sim_ivf"](spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert max(per_q.values()) <= sim.TOP_K


def test_gram_int8_matches_numpy_reference(spark):
    """The distributed partial-sum Gram must equal numpy's C^T C over
    the same int8 codes, exactly (integer contract), across a frame
    spread over multiple partitions."""
    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        _with_int8_codes,
        ext_emb_gram_int8,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=5)], int(i % 3)) for i in range(40)
    ]
    rows.append((99, [0.0] * 5, 0))  # zero vector => all-zero codes
    tmp = _emb_dir(spark, rows)
    # reference codes from the same quantizer the operator uses
    codes = np.stack(
        [
            np.asarray(r.codes, dtype=np.int64)
            for r in _with_int8_codes(
                spark.read.parquet(os.path.join(tmp, "embeddings.parquet"))
            ).collect()
        ]
    )
    want = codes.T @ codes
    got = {(r.i, r.j): r.gram for r in ext_emb_gram_int8(spark, tmp).collect()}
    assert len(got) == 15  # upper triangle of 5x5
    for (i, j), v in got.items():
        assert v == want[i - 1, j - 1]


def test_semantic_contamination_flags_planted_paraphrase(spark):
    """A corpus vector nearly collinear with an eval vector must be
    flagged with that eval item as best match; an orthogonal vector
    must not, and ties on cosine resolve to the lowest eval_id."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        SEM_EVAL_VECS,
        ext_contamination_semantic,
    )

    d = 4
    rows = []
    # eval set: unit basis vectors e0..e3 cycled over ids 0..19
    for i in range(SEM_EVAL_VECS):
        v = [0.0] * d
        v[i % d] = 1.0
        rows.append((i, v, 0))
    # corpus 100: almost e2 (cos ~ .9995) -> contaminated, best = 2
    rows.append((100, [0.01, 0.0, 1.0, 0.02], 0))
    # corpus 101: equal diagonal -> cos .5 to every basis vector,
    # still >= 0.3 so contaminated, tie broken to eval_id 0
    rows.append((101, [1.0, 1.0, 1.0, 1.0], 0))
    # corpus 102: close to -e0 -> max cos ~ 0 vs others, clean
    rows.append((102, [-1.0, 0.001, 0.0, 0.0], 0))
    tmp = _emb_dir(spark, rows)
    out = {r.vec_id: r for r in ext_contamination_semantic(spark, tmp).collect()}
    assert set(out) == {100, 101, 102}
    assert out[100].contaminated and out[100].best_eval_id == 2
    assert out[101].contaminated and out[101].best_eval_id == 0
    assert not out[102].contaminated


def test_emb_outlier_flags_planted_far_vector(spark):
    """ext_emb_outlier_int8: a vector far from its label cluster is
    flagged; the tight cluster members are not; and d2n2 equals the
    integer formula recomputed in numpy from the shared quantizer."""
    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        _with_int8_codes,
        ext_emb_outlier_int8,
    )

    rng = np.random.default_rng(3)
    rows = []
    # label 0: ten tight 3-dim vectors near e0, one planted far outlier
    for i in range(10):
        rows.append((i, [1.0, float(rng.normal(0, 0.02)), 0.0], 0))
    rows.append((99, [-1.0, 1.0, 1.0], 0))
    tmp = _emb_dir(spark, rows)
    out = {r.vec_id: r for r in ext_emb_outlier_int8(spark, tmp).collect()}
    assert out[99].outlier
    assert sum(r.outlier for r in out.values()) == 1
    # exact integer recompute
    codes = {
        r.vec_id: np.asarray(r.codes, dtype=np.int64)
        for r in _with_int8_codes(
            spark.read.parquet(f"{tmp}/embeddings.parquet"),
            extra_cols=("label",),
        ).collect()
    }
    n = len(codes)
    S = sum(codes.values())
    for vid, q in codes.items():
        want = int(((n * q - S) ** 2).sum())
        assert out[vid].d2n2 == want


def test_hard_negative_mine_cross_label_only(spark):
    """ext_hard_negative_mine: every mined negative bears a label
    different from its anchor's, and ranking follows cosine (the
    same-label nearer vector is skipped in favor of the farther
    cross-label one)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_hard_negative_mine,
    )

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = [
        (0, vec(1, 0), 7),      # anchor, label 7
        (10, vec(1, 0.01), 7),  # nearest overall but SAME label
        (11, vec(1, 0.2), 3),   # best cross-label negative
        (12, vec(0, 1), 3),     # orthogonal cross-label
        (13, vec(1, 0.3), 7),   # same label again
    ]
    d = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_hardneg_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = ext_hard_negative_mine(spark, tmp).filter("query_id = 0").collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(11, 1), (12, 2)]
    assert all(r.neg_label != r.query_label for r in out)


def test_label_knn_noise_flags_planted_mislabel(spark):
    """ext_label_knn_noise: a vector placed inside another label's
    cluster has all k=3 neighbors disagreeing and is flagged; core
    cluster members disagree 0/3."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_label_knn_noise,
    )

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = [
        (0, vec(1, 0.00), 1),
        (1, vec(1, 0.01), 1),
        (2, vec(1, 0.02), 1),
        (3, vec(1, 0.03), 1),
        (10, vec(0, 1.00), 2),
        (11, vec(0.01, 1), 2),
        (12, vec(0.02, 1), 2),
        (13, vec(0.03, 1), 2),
        (99, vec(1, 0.015), 2),  # label-2 vector buried in cluster 1
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    tmp = tempfile.mkdtemp(prefix="smdp_knnnoise_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {r.vec_id: r for r in ext_label_knn_noise(spark, tmp).collect()}
    assert out[99].n_disagree == 3 and out[99].flagged
    # cluster-2 cores: neighbors are {11, 12, 99} — all label 2 => clean
    # (cluster-1 cores see the buried 99 as a neighbor, by design)
    assert out[10].n_disagree == 0 and not out[10].flagged
    assert out[99].disagree_rate == 1.0


def test_anisotropy_recovers_planted_dominant_axis(spark):
    """ext_emb_anisotropy: with 10 vectors on axis 1 and one on
    axis 2 the integer power iteration converges to e1 exactly,
    lambda1 equals the planted gram diagonal, and the share is
    10/11."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_emb_anisotropy,
    )

    rows = [(i, [10.0, 0.0, 0.0, 0.0], 0) for i in range(10)]
    rows.append((10, [0.0, 1.0, 0.0, 0.0], 0))
    tmp = tempfile.mkdtemp(prefix="smdp_aniso_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    row = ext_emb_anisotropy(spark, tmp).collect()[0]
    assert row.d == 4
    assert row.trace == 11 * 127 * 127
    assert row.lambda1 == float(10 * 127 * 127)
    assert row.aniso_share == 0.909091  # 10/11 rounded to 6dp
    assert row.top_dim == 1


def test_matryoshka_recall_planted_overlap(spark):
    """ext_emb_matryoshka_recall: all candidates tie at cosine 1 in
    the leading-16-dim ranking (tie-break picks ids 1..10) while
    tail dims order the full ranking toward ids 6..15 — overlap is
    exactly 5 of 10 for query 0."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_emb_matryoshka_recall,
    )

    u = [1.0] * 16
    rows = [(0, u + [0.0, 0.0, 0.0, 0.0], 0)]
    for i in range(1, 16):
        rows.append((i, u + [float(16 - i), 0.0, 0.0, 0.0], 0))
    tmp = tempfile.mkdtemp(prefix="smdp_mrl_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {r.query_id: r for r in ext_emb_matryoshka_recall(spark, tmp).collect()}
    assert len(out) == 5  # vec_id < 5 are queries
    r0 = out[0]
    assert r0.k == 10
    assert r0.n_common == 5  # {1..10} ∩ {6..15}
    assert r0.recall_at_k == 0.5


def test_jl_audit_matches_python_replica(spark):
    """ext_emb_jl_audit: distances and projections match a full
    Python replication of the literal sign matrix and the int8
    quantization; zero-distance twin pairs are excluded."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        _JL_SIGNS,
        JL_K,
        JL_PAIR_STRIDE,
        ext_emb_jl_audit,
    )

    import math

    def codes(v):
        amax = max(abs(x) for x in v)
        if amax == 0:
            return [0] * len(v)
        return [max(-127, min(127, math.floor(x / (amax / 127.0) + 0.5)))
                for x in v]

    import random

    rng = random.Random(7)
    vecs = {}
    for vid in (0, 1, 17, 18, 34, 35):
        vecs[vid] = [rng.uniform(-1, 1) for _ in range(64)]
    vecs[34] = vecs[35] = [1.0] * 64  # identical pair: d2_full=0, excluded
    rows = [(vid, v, 0) for vid, v in sorted(vecs.items())]
    tmp = tempfile.mkdtemp(prefix="smdp_jl_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    row = ext_emb_jl_audit(spark, tmp).collect()[0]

    ratios = []
    for a in (0, 17):
        # replicate float32 storage before quantizing
        import struct
        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        ca = codes([f32(x) for x in vecs[a]])
        cb = codes([f32(x) for x in vecs[a + 1]])
        d2f = sum((x - y) ** 2 for x, y in zip(ca, cb))
        d2p = 0
        for r in range(JL_K):
            pa = sum(s * c for s, c in zip(_JL_SIGNS[r], ca))
            pb = sum(s * c for s, c in zip(_JL_SIGNS[r], cb))
            d2p += (pa - pb) ** 2
        ratios.append(round(d2p / (JL_K * d2f), 6))
    assert row.n_pairs == 2  # twin pair (34,35) excluded
    assert row.min_ratio == min(ratios)
    assert row.max_ratio == max(ratios)
    assert row.mean_ratio_micro == sum(round(r * 1_000_000) for r in ratios) // 2


def test_triplet_margin_planted_violation(spark):
    """ext_triplet_margin_audit: an anchor whose nearest impostor
    outscores its best same-label peer reports a negative margin and
    the violation flag; a clean anchor reports positive margin; an
    anchor with no same-label peer is out of frame."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_triplet_margin_audit,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # anchor A (stride 20)
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # same-label, close
        (2, [0.0, 1.0, 0.0, 0.0], 1),   # impostor, far -> clean anchor
        (20, [0.0, 0.0, 1.0, 0.0], 2),  # anchor B
        (21, [0.0, 0.0, 0.0, 1.0], 2),  # same-label, orthogonal
        (22, [0.0, 0.0, 0.99, 0.1], 3), # impostor, very close -> violation
        (40, [1.0, 1.0, 0.0, 0.0], 7),  # anchor C: label 7 unique -> no pos
    ]
    tmp = tempfile.mkdtemp(prefix="smdp_trip_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {r.anchor_id: r for r in ext_triplet_margin_audit(spark, tmp).collect()}
    assert set(out) == {0, 20}  # anchor 40 has no same-label peer
    assert out[0].margin > 0 and not out[0].violation
    assert out[20].margin < 0 and out[20].violation


def test_sample_temperature_flattens_shares(spark):
    """ext_sample_temperature (text_analysis, registered beside the
    mixture family): alpha=0.7 weights flatten an 80/20 token split —
    tail upsamples, head downsamples, weights sum to 1."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.text_analysis import (
        ext_sample_temperature,
    )

    rows = [
        (1, " ".join(["tok"] * 80), "en", "s", 1),
        (2, " ".join(["tok"] * 20), "de", "s", 1),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_temp_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.lang: r for r in ext_sample_temperature(spark, tmp).collect()}
    w_en = int(0.8**0.7 * 1e9 + 0.5)
    w_de = int(0.2**0.7 * 1e9 + 0.5)
    assert out["en"].n_tokens == 80 and out["de"].n_tokens == 20
    assert abs(out["en"].sample_weight - round(w_en / (w_en + w_de), 6)) < 2e-6
    assert abs(out["en"].sample_weight + out["de"].sample_weight - 1.0) < 2e-6
    assert out["de"].upsample_x > 1.0 > out["en"].upsample_x
    # flattened, not inverted: head still outweighs tail
    assert out["en"].sample_weight > out["de"].sample_weight


def test_pq_codebook_matches_python_replica(spark):
    """ext_emb_pq_codebook: one-hot seed vectors plus two copies of
    seed 3 — assignments and SSE match an independent integer
    replica (ties to the lowest centroid id)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        ext_emb_pq_codebook,
    )

    vecs = {}
    for k in range(8):
        v = [0.0] * 8
        v[k] = 127.0
        vecs[k] = v
    vecs[100] = list(vecs[3])
    vecs[101] = list(vecs[3])
    rows = [(vid, v, 0) for vid, v in sorted(vecs.items())]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pq_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {
        (r.subspace, r.centroid): r
        for r in ext_emb_pq_codebook(spark, tmp).collect()
    }
    # python replica: codes == int components (absmax 127 -> scale 1)
    ds = 8 // PQ_M
    codes = {vid: [int(x) for x in v] for vid, v in vecs.items()}
    seeds = [codes[k] for k in range(PQ_K)]
    expect = {}
    for vid, c in codes.items():
        for s in range(PQ_M):
            sub = c[s * ds : (s + 1) * ds]
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sub, seeds[cid][s * ds : (s + 1) * ds])), cid)
                for cid in range(PQ_K)
            )
            key = (s, best[1])
            n, sse = expect.get(key, (0, 0))
            expect[key] = (n + 1, sse + best[0])
    assert set(out) == set(expect)
    for key, (n, sse) in expect.items():
        assert out[key].n_assigned == n and out[key].sse_sum == sse
    # the two copies of seed 3 land on centroid 3 in the subspace
    # that distinguishes it, with zero distortion
    assert out[(1, 3)].n_assigned == 3 and out[(1, 3)].sse_sum == 0


def test_int8_finite_domain_contract(spark):
    """FINITE_AMAX_SQL (r9): vectors with any NaN/inf component leave
    the quantized universe on the Spark side exactly as the oracle's
    WHERE drops them — no silent NaN->0 codes."""
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        ext_emb_quantize,
    )

    rows = [
        (1, [1.0, -2.0], 0),
        (2, [float("nan"), 1.0], 0),
        (3, [float("inf"), 1.0], 0),
        (4, [0.0, 0.0], 0),
        (5, None, 0),
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_finite_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {r.vec_id: r for r in ext_emb_quantize(spark, tmp).collect()}
    assert set(out) == {1, 4}  # NaN, inf and NULL vectors excluded
    assert out[1].q_l1 == 127 + 64  # codes (64, -127) via absmax 2.0
    assert out[4].q_sum == 0 and out[4].n_sat == 0
    assert not math.isnan(out[1].scale)


def test_pq_topk_matches_python_replica(spark):
    """ext_emb_topk_pq: SDC top-k on the one-hot fixture matches an
    independent integer replica (assignment, LUT, summed lookups,
    tie order)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_N_QUERY,
        PQ_TOP_K,
        ext_emb_topk_pq,
    )

    vecs = {}
    for k in range(8):
        v = [0.0] * 8
        v[k] = 127.0
        vecs[k] = v
    vecs[100] = list(vecs[3])
    vecs[101] = list(vecs[5])
    rows = [(vid, v, 0) for vid, v in sorted(vecs.items())]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_pqtk_")
    e.coalesce(1).write.parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {
        (r.query_id, r.neighbor_id): r
        for r in ext_emb_topk_pq(spark, tmp).collect()
    }
    ds = 8 // PQ_M
    codes = {vid: [int(x) for x in v] for vid, v in vecs.items()}
    seeds = [codes[k] for k in range(PQ_K)]

    def sse(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    assign = {
        (vid, s): min(
            (sse(c[s * ds:(s + 1) * ds], seeds[cid][s * ds:(s + 1) * ds]), cid)
            for cid in range(PQ_K)
        )[1]
        for vid, c in codes.items()
        for s in range(PQ_M)
    }
    expect = {}
    for q in range(PQ_N_QUERY):
        dists = []
        for vid in codes:
            if vid == q:
                continue
            d = sum(
                sse(
                    codes[q][s * ds:(s + 1) * ds],
                    seeds[assign[(vid, s)]][s * ds:(s + 1) * ds],
                )
                for s in range(PQ_M)
            )
            dists.append((d, vid))
        for rank, (d, vid) in enumerate(sorted(dists)[:PQ_TOP_K], start=1):
            expect[(q, vid)] = (d, rank)
    assert set(out) == set(expect)
    for key, (d, rank) in expect.items():
        assert out[key].sdc == d and out[key].rank == rank


def test_hamming_pairs_equal_brute_force_with_reembeds(spark):
    """`ext_sim_hamming_pairs` must EQUAL the brute-force pair scan
    over base ∪ planted re-embeds (pigeonhole banding is lossless at
    r < B), and every planted re-embed pair must surface at
    hamming ≤ 1 (one flipped sign — or 0 when the flipped component
    was exactly 0.0)."""
    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        HAMMING_PAIR_MAX,
        HAMMING_REENC_MOD,
        HAMMING_REENC_OFFSET,
    )

    out = {
        (r.vec_a, r.vec_b): r.hamming
        for r in queries()["ext_sim_hamming_pairs"](spark, SF_SMOKE).collect()
    }
    raw = [
        (r.vec_id, np.asarray(r.embedding, dtype=np.float64))
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
        if r.embedding is not None
        and np.all(np.isfinite(r.embedding))
        and np.abs(np.asarray(r.embedding, dtype=np.float64)).max() < 1e150
    ]
    allv = dict(raw)
    for vid, v in raw:
        if vid % HAMMING_REENC_MOD == 0:
            w = v.copy()
            w[vid % len(v)] = -w[vid % len(v)]
            allv[vid + HAMMING_REENC_OFFSET] = w
    bits = {vid: (v > 0) for vid, v in allv.items()}
    ids = sorted(bits)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = int((bits[a] != bits[b]).sum())
            if h <= HAMMING_PAIR_MAX:
                expect[(a, b)] = h
    assert out == expect
    planted = [
        (vid, vid + HAMMING_REENC_OFFSET)
        for vid, _ in raw
        if vid % HAMMING_REENC_MOD == 0
    ]
    assert planted and all(p in out and out[p] <= 1 for p in planted)


def test_embcos_incremental_flags_vs_brute_force(spark):
    """Incremental flags recomputed with NumPy over the md5 bucket
    split: dup_of_base ⟺ some base vector at cos ≥ t, dup_in_increment
    ⟺ some EARLIER increment vector at cos ≥ t, is_new = neither; the
    spine is exactly the increment."""
    import hashlib

    import numpy as np

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        INCR_BASE_BUCKETS,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        COS_DUP_THRESHOLD,
    )

    rows = queries()["ext_dedup_embcos_incremental"](spark, SF_SMOKE).collect()
    got = {r.vec_id: (r.dup_of_base, r.dup_in_increment, r.is_new) for r in rows}

    def bucket(vid: int) -> int:
        return int(hashlib.md5(str(vid).encode()).hexdigest()[:15], 16) % 10

    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
        if r.embedding is not None
        and np.all(np.isfinite(r.embedding))
        and np.abs(np.asarray(r.embedding, dtype=np.float64)).max() < 1e150
    }
    base = {v: e for v, e in vecs.items() if bucket(v) < INCR_BASE_BUCKETS}
    inc = {v: e for v, e in vecs.items() if bucket(v) >= INCR_BASE_BUCKETS}

    def cos(a, b):
        na, nb = np.sqrt(a @ a), np.sqrt(b @ b)
        if na * nb == 0:
            return None
        return (a @ b) / (na * nb)

    assert set(got) == set(inc)
    for v, e in inc.items():
        dob = any(
            (c := cos(e, be)) is not None and c >= COS_DUP_THRESHOLD
            for be in base.values()
        )
        dii = any(
            (c := cos(e, inc[u])) is not None and c >= COS_DUP_THRESHOLD
            for u in inc
            if u < v
        )
        assert got[v] == (dob, dii, not (dob or dii)), v


def test_eval_coverage_by_source_consistent_with_total(spark):
    """The source decomposition must agree with `ext_eval_coverage`:
    an item has source rows iff it has covered shingles; each source
    covers ≤ the item's union count; the union count is ≤ the sum
    over sources (shingles can be covered by several sources); and
    n_shingles repeats the item total on every row."""
    tot = {
        r.doc_id: r
        for r in queries()["ext_eval_coverage"](spark, SF_SMOKE).collect()
    }
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import (
        queries as _q,
    )

    rows = _q()["ext_eval_coverage_by_source"](spark, SF_SMOKE).collect()
    by_item: dict = {}
    for r in rows:
        by_item.setdefault(r.doc_id, []).append(r)
        assert r.n_shingles == tot[r.doc_id].n_shingles
        assert 1 <= r.n_covered <= tot[r.doc_id].n_covered
        assert r.coverage_pm == r.n_covered * 1000 // r.n_shingles
    for doc_id, t in tot.items():
        srcs = by_item.get(doc_id, [])
        assert (t.n_covered > 0) == bool(srcs)
        if srcs:
            assert t.n_covered <= sum(r.n_covered for r in srcs)


def test_hamming_components_keepers_vs_pairs(spark):
    """Components recomputed from the miner's own pair list via
    union-find: assignment, cluster sizes, and keeper flags must all
    match; every planted re-embed must land in its original's cluster
    with the ORIGINAL id as keeper."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity import (
        HAMMING_REENC_MOD,
        HAMMING_REENC_OFFSET,
    )

    pairs = [
        (r.vec_a, r.vec_b)
        for r in queries()["ext_sim_hamming_pairs"](spark, SF_SMOKE).collect()
    ]
    rows = queries()["ext_sim_hamming_components"](spark, SF_SMOKE).collect()
    ids = [r.vec_id for r in rows]
    parent = {v: v for v in ids}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {v: find(v) for v in ids}
    # min-id labeling: find() roots at the smallest id only if unions
    # always attach larger to smaller (they do above), but path order
    # can leave a non-min root — normalize by true min per group
    groups: dict = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    lbl = {v: min(g) for c, g in groups.items() for v in g}
    size = {v: len(groups[comp[v]]) for v in ids}
    for r in rows:
        assert r.component == lbl[r.vec_id]
        assert r.cluster_size == size[r.vec_id]
        assert r.is_keeper == (r.vec_id == lbl[r.vec_id])
    for r in rows:
        if r.vec_id >= HAMMING_REENC_OFFSET:
            orig = r.vec_id - HAMMING_REENC_OFFSET
            assert orig % HAMMING_REENC_MOD == 0
            assert r.component <= orig and not r.is_keeper


def test_embcos_incremental_lsh_equals_exact_arm(spark):
    """At driver SFs measured LSH recall is 1.0, so the LSH-probe
    arm's flags must EQUAL the exact bipartite probe's — a bucketing
    regression that drops a true pair flips a flag here before it
    hides anywhere else."""
    exact = {
        r.vec_id: (r.dup_of_base, r.dup_in_increment, r.is_new)
        for r in queries()["ext_dedup_embcos_incremental"](
            spark, SF_SMOKE
        ).collect()
    }
    lsh = {
        r.vec_id: (r.dup_of_base, r.dup_in_increment, r.is_new)
        for r in queries()["ext_dedup_embcos_incremental_lsh"](
            spark, SF_SMOKE
        ).collect()
    }
    assert lsh == exact


def test_fold_dots_equal_the_engine_fold(spark):
    """`_fold_dots` is the engine's `_DOT` fold and `_fold_cos` its
    `_cosine`, bit for bit (==, not approximately): seeded float32
    vectors at EMB_DIM with mixed signs and magnitudes, plus one
    all-zero vector whose pairs read NULL on the JVM and fall outside
    the kernel's `denom != 0` mask."""
    import numpy as np
    from pyspark.sql import functions as F

    import social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity as sim

    rng = np.random.default_rng(13)
    n = 9
    vecs = rng.standard_normal((n, sim.EMB_DIM)) * rng.choice([1e-3, 1.0, 1e3], (n, 1))
    vecs = vecs.astype(np.float32)
    vecs[4] = 0.0
    e = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    rows = a.crossJoin(b).select(
        "a",
        "b",
        F.expr(sim._DOT.format(a="va", b="vb")).alias("dot"),
        F.sqrt(F.expr(sim._DOT.format(a="va", b="va"))).alias("norm_a"),
        sim._cosine("va", "vb").alias("cos"),
    ).collect()
    assert len(rows) == n * n

    mat = sim._stack(list(vecs))
    aa, bb, ab = sim._fold_dots(mat, mat)
    cos, denom = sim._fold_cos(mat, mat)
    assert (aa == bb).all()
    n_null = 0
    for r in rows:
        assert r.dot == ab[r.a, r.b], (r.a, r.b)
        assert r.norm_a == np.sqrt(aa[r.a]), r.a
        if r.cos is None:
            n_null += 1
            assert 4 in (r.a, r.b)
            assert not denom[r.a, r.b] != 0.0  # masked out by the kernel
        else:
            assert denom[r.a, r.b] != 0.0
            assert r.cos == cos[r.a, r.b], (r.a, r.b)
    assert n_null == 2 * n - 1


def test_block_layouts_put_every_pair_in_exactly_one_group(spark):
    """Partition property of the two block layouts. Triangle: for N in
    0..12 rows and B in {1, 3, 8} blocks (B > N and empty blocks
    included), and for per-bucket salt counts of 1 and 3 given as a
    Column, every unordered pair of rows sharing the group keys is
    scored exactly once. Probe: every (big, small) pair exactly once,
    and with lt_only only big id < small id."""
    from collections import Counter

    import numpy as np
    from pyspark.sql import functions as F

    import social_media_data_pipeline_recession_political_sentiment_spark.operators.similarity as sim

    def all_pairs(ids_a, mat_a, ids_b, mat_b, same_block):
        return sim._pair_rows(ids_a, ids_b, sim._tri_mask(ids_a, ids_b, same_block))

    def emitted(df):
        return Counter((r.vec_a, r.vec_b) for r in df.collect())

    schema = "vec_a bigint, vec_b bigint"
    sizes = range(13)
    # triangle, int block count: the set size N is the group key
    rows = spark.createDataFrame(
        [(n, n * 100 + i, [float(i)]) for n in sizes for i in range(n)],
        "n long, vec_id long, embedding array<float>",
    )
    want = Counter(
        (n * 100 + i, n * 100 + j) for n in sizes for i in range(n) for j in range(i + 1, n)
    )
    for blocks in (1, 3, 8):
        got = emitted(sim._block_triangle(rows, blocks, all_pairs, schema, keys=("n",)))
        assert got == want, blocks

    # triangle, per-bucket salt count as a Column
    salted = rows.withColumn("nsalt", F.when(F.col("n") % 2 == 0, 3).otherwise(1))
    got = emitted(
        sim._block_triangle(salted, F.col("nsalt"), all_pairs, schema, keys=("n",))
    )
    assert got == want

    # probe: big side blocked, small side replicated to every block
    def probe_pairs(ids_a, mat_a, ids_b, mat_b, same_block):
        ai, bi = np.nonzero(sim._tri_mask(ids_a, ids_b, same_block))
        return {"vec_a": ids_a[ai], "vec_b": ids_b[bi]}

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i)]) for i in ids], "vec_id long, dv array<double>"
        )

    big, small = vecs(range(12)), vecs([3, 5, 40, 41, 11])
    got = emitted(sim._block_probe(big, small, probe_pairs, schema))
    assert got == Counter((a, b) for a in range(12) for b in [3, 5, 40, 41, 11])
    inc = vecs(range(2, 11))
    got = emitted(sim._block_probe(inc, inc, probe_pairs, schema, lt_only=True))
    assert got == Counter((a, b) for a in range(2, 11) for b in range(2, 11) if a < b)
    assert emitted(sim._block_probe(vecs([]), small, probe_pairs, schema)) == Counter()
