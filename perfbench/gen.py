"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical tables. The shapes mirror the engine's testdata schemas
(see FIXTURES.md) at a reduced scale so one run fits in well under a
minute on a 4-core host:

- ``events``: a January 2024 stream; ``hot_share`` of the rows belong to
  one user (the skew the relational operators' salting devices target).
- ``documents`` + ``embeddings``: a curation corpus with a stated share
  of planted near-duplicates (texts with one or two words replaced,
  vectors with small noise added).
- TPC-H-like ``orders`` and ``customer`` for the join reports.
- ``reddit_pages``: Reddit listing pages for the streaming ingest, with
  event time advancing page to page, redelivered comments and a small
  share of comments older than the 12 h watermark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big window row table stream merge "
    "data key join customer vector"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
JAN_US = 30 * 86400 * 1_000_000  # events span 2024-01-01 .. 2024-01-31

SUBREDDITS = (
    "recession", "economy", "jobs", "markets", "politics", "layoffs",
    "inflation", "stocks", "personalfinance", "news", "worldnews",
    "povertyfinance", "antiwork", "investing",
)
COMMENT_WORDS = VOCAB + [
    "dup", "hash", "Rates", "LAYOFFS", "hiring!", "freeze,", "dip?", "SPY",
    "https://example.com/a1", "http://news.example.org/x?y=2", "(up)",
]


def _epoch_s(year: int, month: int, day: int) -> int:
    return int(dt.datetime(year, month, day, tzinfo=dt.timezone.utc).timestamp())


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_events(out_dir: str, rng: np.random.Generator, n: int, hot_share: float) -> int:
    ts = np.sort(rng.integers(0, JAN_US, n)) + _epoch_s(2024, 1, 1) * 1_000_000
    users = rng.integers(1, 1500, n)
    users[rng.random(n) < hot_share] = 0
    return _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts_us(ts),
        "user_id": pa.array(users.astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 560.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_orders(out_dir: str, rng: np.random.Generator, n_orders: int) -> int:
    """TPC-H-like orders and customer tables (the testdata's sf0.01 has
    15,000 orders and 1,500 customers)."""
    n_cust = n_orders // 10
    day_us = 86400 * 1_000_000
    rows = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"], n_cust)),
    })
    rows += _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n_orders), 2)),
        "o_orderdate": _ts_us(
            _epoch_s(1995, 1, 1) * 1_000_000 + rng.integers(0, 2404, n_orders) * day_us),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    return rows


def _mutate(words: list[str], rng: np.random.Generator) -> list[str]:
    out = list(words)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(0, len(out)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def write_corpus(
    out_dir: str, rng: np.random.Generator, n_docs: int, n_vecs: int, dup_share: float
) -> int:
    """documents + embeddings; ``dup_share`` of each is a planted near
    duplicate of an earlier original (star-shaped, never a chain)."""
    n_orig = int(round(n_docs * (1 - dup_share)))
    texts: list[str] = []
    for i in range(n_docs):
        if i < n_orig:
            words = list(rng.choice(VOCAB, int(rng.integers(12, 70))))
        else:
            words = _mutate(texts[int(rng.integers(0, n_orig))].split(), rng)
        texts.append(" ".join(words))
    order = rng.permutation(n_docs)  # interleave the planted copies
    texts = [texts[i] for i in order]
    rows = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    v_orig = int(round(n_vecs * (1 - dup_share)))
    vecs = rng.normal(size=(n_vecs, 64))
    src = rng.integers(0, v_orig, n_vecs - v_orig)
    vecs[v_orig:] = vecs[src] + rng.normal(scale=0.15, size=(n_vecs - v_orig, 64))
    vecs = vecs[rng.permutation(n_vecs)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    rows += _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32")),
    })
    return rows


def reddit_pages(
    rng: np.random.Generator,
    n_pages: int,
    per_page: int,
    redeliver_share: float,
    late_share: float,
    tag: str,
):
    """Listing pages for the ingest workload, plus the exact silver the
    pipeline must produce.

    Page i is fetched at hour i: its fresh comments carry event times in
    the hour before the fetch. From page 3 on, ``late_share`` of a page
    are comments at least 16 h old. With one page per micro-batch and
    the watermark trailing the newest event time by 12 h, they are below
    the watermark when their page is read, so the stream drops them.
    ``redeliver_share`` of a page repeats comments already delivered on
    earlier pages, which the stream must not write twice. Returns (pages
    as JSON lines, expected silver rows keyed by comment_id).
    """
    t0 = _epoch_s(2024, 3, 1)
    pages: list[str] = []
    expected: dict[str, tuple] = {}
    delivered: list[dict] = []
    n = 0
    for i in range(n_pages):
        now = t0 + 3600 * (i + 1)
        n_late = int(round(per_page * late_share)) if i >= 3 else 0
        n_redo = min(int(round(per_page * redeliver_share)), len(delivered))
        children = []
        for j in range(per_page - n_late - n_redo):
            created = now - 1 if j == 0 else now - int(rng.integers(1, 3600))
            c = _comment(rng, f"{tag}c{n}", created)
            d = c["data"]
            expected[d["id"]] = (
                d["subreddit"], d["link_id"], d["body"],
                0 if d["score"] is None else d["score"], created,
            )
            children.append(c)
            n += 1
        for _ in range(n_late):
            # >= 16 h old: below the watermark whether the dedup operator
            # applies the current or the previous batch's watermark
            age = int(rng.integers(16, 40)) * 3600
            children.append(_comment(rng, f"{tag}c{n}", now - age))
            n += 1
        if n_redo:
            for k in rng.choice(len(delivered), n_redo, replace=False):
                children.append(delivered[int(k)])
        delivered.extend(children)
        children = [children[k] for k in rng.permutation(len(children))]
        after = None if i == n_pages - 1 else f"t1_{tag}p{i + 1}"
        pages.append(json.dumps(
            {"kind": "Listing", "data": {"after": after, "children": children}}
        ))
    return pages, expected


def _comment(rng: np.random.Generator, cid: str, created: int) -> dict:
    while True:
        words = list(rng.choice(COMMENT_WORDS, int(rng.integers(3, 25))))
        # the moderation stub scores 0.2 per "dup" + 0.1 per "hash" and
        # flags strictly above 0.9: a sum of exactly 0.9 rounds either
        # way depending on the order of float operations, so no engine
        # and reference can agree on it by construction
        if 2 * words.count("dup") + words.count("hash") != 9:
            break
    return {"kind": "t1", "data": {
        "subreddit": SUBREDDITS[int(rng.integers(0, len(SUBREDDITS)))],
        "link_id": f"t3_p{int(rng.integers(0, 40))}",
        "body": " ".join(words),
        "score": None if rng.random() < 0.03 else int(rng.integers(-20, 500)),
        "created_utc": int(created),
        "id": cid,
    }}
