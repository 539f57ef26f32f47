"""Degenerate-input crash sweep: run every registered query against a
deliberately pathological fixture and report CRASHES (exceptions), not
value differences.

The fixture plants the degeneracies that real 100 TB corpora contain
but the random testdata never produces, so ANSI-mode crash classes
(DIVIDE_BY_ZERO on zero variance / zero norms / empty slices,
INVALID_ARRAY_INDEX on desynced arrays, CAST_INVALID_INPUT on
malformed keys) surface here instead of in production:

- documents: every doc the SAME text (uniform term counts => the
  frequency-of-frequencies curve has zero variance), plus an
  empty-text doc and a single-token doc; one lang, one source with a
  name OUTSIDE the 'srcN' scheme
- events: one user, ALL events at one timestamp (zero gaps, zero
  variance, every row inside any head-slice split), NULL values/props
- embeddings: all-zero vectors (zero L2 norm => cosine undefined)
  plus identical unit vectors; a single label

r7 findings (all fixed, vanilla-verified hash-identical at
sf0.001+sf0.01 — the guards are value-neutral on non-degenerate
data): ext_zipf_fit (zero ff variance), the _cosine device behind
ext_sim_topk / join_similarity_topk / ext_sim_ivf_exhaustive /
ext_sim_ivf_recall / ext_emb_matryoshka_recall (zero-norm vectors),
ext_gopher_repetition (empty doc), agg_dist_drift_probe (empty
slice b), ext_dedup_cross_source (malformed source name).

Usage:  python tools/degen_sweep.py [query ...]
        python tools/degen_sweep.py --empty [query ...]
        python tools/degen_sweep.py --nulls [query ...]
        python tools/degen_sweep.py --nonfinite [query ...]
        python tools/degen_sweep.py --unicode [query ...]
        python tools/degen_sweep.py --json [query ...]
        python tools/degen_sweep.py --skew [query ...]
        python tools/degen_sweep.py --grams [query ...]
--empty swaps the fixture for ZERO-ROW documents/events/embeddings
AND orders (the "my filter matched nothing" case that is routine at
100 TB — every date-range or partition predicate can come back
empty). r7 findings in that class (also fixed + verified
value-neutral): agg_funnel_steps / ext_chunk_cdc
(conversion-and-ratio divisions by zero entry counts) and
sink_partitioned_prune / sink_dynamic_overwrite (read-back schema
inference over a data-less _SUCCESS-only sink dir — fixed with
explicit read schemas). r8 findings after orders joined the mode
(r7 ADVICE): sink_sorted_runs (the shared _pq_sql quantile device
indexed element_at(arr, 0) at n=0 — now a CASE-guarded NULL on both
engines — plus the read-back schema class) and join_bloom_pruned
(fp_rate divided by zero true negatives — nullif both engines).
--nulls riddles every nullable corpus column with NULLs (NULL text /
lang / source / n_chars, NULL ts / user_id / event_type / value /
props, NULL embedding / label — failed encodes and partial ingests
look exactly like this; r8 adds a NULL-riddled orders table so the
TPC-H-fed quantile/join family faces NULL keys, prices and dates
too). r8 PROMOTED this mode to a full-gate divergence sweep (run
verify_local on the fixture, like --unicode/--json/--tz): the first
full run found 20 value divergences — NULL keys riding the as-of
union-and-window carry vs DuckDB's inner ASOF JOIN, Spark
NULLS-FIRST range sort vs SQL NULLS-LAST ranks, sum() over all-NULL
groups vs CASE ELSE 0, DuckDB least() skipping NULL operands,
fillna('') scoring NULL comments — all pinned on both engines
(tests/test_registry.py::test_null_riddled_oracle_parity_fixed_class)
with ONE accepted approximation red (ext_sim_ivf_recall's honest
recall floor on a 4-vector corpus). r7 findings in that class (fixed +
NULL-fixture oracle-verified AND real-data hash-identical): the
numpy seams behind 12 similarity queries np.stack'd None embeddings
— pinned as "no vector, no similarity op" with matching
embedding-IS-NOT-NULL oracle predicates on the ranking family;
ext_shard_manifest NULL text = ZERO tokens both engines (NaN
otherwise poisons the offset cumsum and the driver shard-total
loop); ext_mm_resize_stub excludes NULL-payload/dimension rows on
both engines. KNOWN accepted red on this fixture:
ext_sim_ivf_recall's meets_floor honestly reads false on a 4-vector
corpus (the measured recall floor needs a minimum corpus; slots
still hash-match) — an approximation property, not an engine
divergence.
--nonfinite plants NaN/±inf/1e308 in events.value, NaN/inf embedding
components, and wildly out-of-range timestamps (1900, 2260). r7
findings (fixed + oracle-gate-verified ON the fixture): the shared
FINITE_CENTS_SQL / FINITE_VALUE_SQL device (operators/relational.py)
— rows keep their place in sessions/windows/counts but a non-finite
or out-of-domain measure reads NULL on both engines (ANSI
CAST_OVERFLOW otherwise kills agg_sessionize_batch /
window_moving_range / agg_decayed_score / sink_dynamic_overwrite);
agg_benford_audit restricts its universe to the same finite domain;
and the shared session-interval contract caps durations at
SESSION_MAX_S = 30 days (an unbounded "duration" column explodes the
per-day split into a 10^14-element sequence —
COLLECTION_SIZE_LIMIT_EXCEEDED in agg_concurrency_peak /
agg_occupancy_hours).
r9 PROMOTED this mode to a full-gate DIVERGENCE sweep (run
verify_local on the fixture, like --unicode/--json/--tz/--nulls/
--skew): the first full run found four cross-engine fork classes,
all closed with portable domain contracts and pinned by
tests/test_registry.py::test_nonfinite_oracle_parity_fixed_class —
(1) int8 quantization: Spark's ANSI cast silently reads
floor(NaN+0.5) as code 0 while DuckDB's CAST hard-errors
(FINITE_AMAX_SQL, similarity.py: non-finite vectors leave the
quantized universe); (2) float similarity: SQL reads NaN >= t as
TRUE (NaN-greatest) where the NumPy blocked kernels read False
(_fin_emb_spark/_fin_emb_duck, bound 1e150 so norm PRODUCTS stay
finite — a finite 1e308 component still overflows na*nb to inf);
(3) value statistics: numpy max -> NaN vs SQL NaN-greatest
aggregates, plus Spark's double->BIGINT cast SATURATES at Long.MAX
where DuckDB hard-errors (FINITE_MEASURE_SQL / FINITE_FLOOR_SQL,
relational.py); (4) time resample/watermark: one 2260 glitch stamp
fast-forwards a stream watermark 200+ years — every honest later
row silently dropped — and explodes the dense hourly spine to
~9.5M cells (SANE_TS_SQL: agg_time_spine_fill + stream_dedup gate
stamps to the plausible-operations window; point-wise epoch math
keeps the full domain and proved it on this fixture). Gate result:
295 pass + 3 rows-only + 1 accepted approximation red
(ext_sim_ivf_recall meets_floor honestly false on the degenerate
corpus — the same accepted class as the --nulls gate).

    python tools/degen_sweep.py --nonfinite
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen
--unicode is a DIVERGENCE sweep, not just a crash sweep: the shipped
testdata corpus is pure ASCII, so every string kernel (Java regex vs
DuckDB RE2, ICU-vs-utf8proc case mapping, code-point vs grapheme
counting) is untested on the text real social platforms actually
carry. The mode rewrites the real sf0.001 documents table with
deterministic unicode enrichment — emoji + ZWJ families, CJK, RTL
Arabic/Hebrew, combining marks (precomposed AND decomposed é), NBSP /
thin / zero-width spaces, astral-plane letters, fullwidth forms,
Turkish İ/ı + German ß + Greek final-sigma case edges, curly
punctuation — keeping doc_id/lang/source distributions and the
n_chars = code-point-length contract intact. Run the crash pass here,
then the FULL oracle gate on the fixture:

    python tools/degen_sweep.py --unicode
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen

--json is the second DIVERGENCE sweep: events.props cycles through
the JSON payload edges real producers ship (malformed, non-integral
tokens, duplicate keys, sibling type errors, non-object JSON, BIGINT
overflow) — the engines' native extraction disagrees on most of them
(DuckDB hard-errors on malformed and ROUNDS '1.5' to 2; a typed Spark
map parse nulls the whole map on any sibling's type error). The
props-reading family (project_flatten_json, ext_props_map,
fn_json_parse) follows the shared integral-token contract in
functions/json_contract.py, verified by the full oracle gate ON this
fixture:

    python tools/degen_sweep.py --json
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen

--tz is the third DIVERGENCE sweep (r7 verdict item 5): the entire
oracle contract assumes tz-naive UTC semantics (session.py pins
spark.sql.session.timeZone=UTC; parquet carries naive timestamp[us];
DuckDB TIMESTAMP is naive), so a non-UTC HOST timezone must be
unobservable. The mode sets TZ (default America/New_York, override
via SMDP_TZ) with time.tzset() BEFORE the JVM spawns — the spawned
JVM inherits it as user.timezone, exactly what a driver box outside
UTC looks like — and rewrites events with timestamps straddling DST
transitions (US spring-forward/fall-back 2024-03-10/2024-11-03,
EU 2024-03-31/2024-10-27, incl. wallclocks that are NONEXISTENT or
AMBIGUOUS when read as local time). The epoch-day integer contract
(ts::long // 86400, DATE arithmetic on naive values) should be
immune by construction; this mode PROVES it. Run the crash pass,
then the FULL oracle gate on the fixture AND on real data, all
under the same TZ:

    python tools/degen_sweep.py --tz
    SMDP_VERIFY_TZ=America/New_York SMDP_VERIFY_VANILLA=1 \
        python tools/verify_local.py /tmp/smdp_degen
    SMDP_VERIFY_TZ=America/New_York SMDP_VERIFY_VANILLA=1 \
        python tools/verify_local.py /root/testdata/sf0.001

(SMDP_VERIFY_TZ, not TZ: the flag moves BOTH engines' default zone
— JVM user.timezone, DuckDB SET TimeZone — while the Python
comparison layer stays put. Exporting TZ instead ALSO moves
PySpark's collect() rendering (TimestampType.fromInternal goes
through the Python process's local zone, where DST fall-back folds
two instants onto one wallclock) — a lossy REPRESENTATION seam of
the collection API that reads as ~21 false timestamp-column
mismatches gate-wide; the engine microseconds stay exact, pinned by
tests/test_registry.py's TZ tests. Re-learned the hard way in the
r10 battery.)

--dups probes duplicate PRIMARY KEYS (r8) — the shape every
at-least-once ingest and re-crawl produces (the reference's own
dedup-by-probe exists because Reddit re-serves posts). doc_id /
event_id / vec_id appear twice, sometimes with IDENTICAL payloads
(true redelivery) and sometimes with DIFFERENT payloads (content
changed between crawls), plus full-row ties (same user, same ts,
same key). The r8 run established the CONTRACT this mode enforces:
(a) nothing crashes registry-wide (0/285); (b) the INGEST-DEDUP
family — stream_dedup / stream_upsert_keyed / window_dedup_recent /
ext_dedup_exact / the ext_dedup_incremental trio / sink_scd1_merge /
ext_dedup_cluster_pick / ext_dataset_diff / join_anti_dedup — is
exactly oracle-green ON dup-key input (12/12, pinned by
tests/test_registry.py::test_dup_key_enforcement_family_oracle_parity):
redelivery handling is THEIR job and they provably do it;
(c) content operators DOWNSTREAM of ingest assume key-deduplicated
(bronze-cleaned) input — their oracles key on doc_id/event_id, so
PK-violating input changes the QUESTION (a GROUP BY doc_id
collapses two different payloads into one "document"; an
event_id-keyed rejoin fans out 2x2), not the engine arithmetic: 21
such key-assuming queries mismatch on this fixture by
construction, recorded in tools/verify_r8_session1.log as the
documented boundary. Run the crash pass, then the family gate:

    python tools/degen_sweep.py --dups
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen \
        stream_dedup stream_upsert_keyed window_dedup_recent \
        ext_dedup_exact ext_dedup_incremental sink_scd1_merge

--skew is the NINTH mode (r8 verdict item 7) and the fourth
full-gate DIVERGENCE sweep: the real sf0.001 tables remapped so
single hot keys dominate — 50% of events on one user_id AND one
wallclock day, 90% on one event_type, 40% of documents ONE
boilerplate page with 80% on one source, half the embeddings ONE
template vector with a 95/5 label split, half the orders on one
o_custkey. This is the distribution class every salting /
AQE-skew-join / tie-break device exists for; the gate asks whether
any of them gives an engine-local answer under heavy ties. Run the
crash pass, then the FULL oracle gate on the fixture:

    python tools/degen_sweep.py --skew
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen

--grams is the TENTH mode (r9 verdict item 7, carried through r10 as
"infeasible as specified"; r11 ran the mining job and landed it for
real): tools/mine_gram_collision.py birthday-searched ~2.4e9 salted
md5 digests per salt (~5 min on 30 cores) and found TRUE 60-bit
collisions — two distinct word-grams whose md5('<salt>:<gram>')
digests share the first 15 hex chars. The fixture is the REAL
sf0.001 documents table plus planted docs carrying the colliding
grams; under the legacy single-column _salted_hash key the two span
operators silently merged the grams Spark-side (the raw-string
oracle disagreed — a driver hash MISMATCH, demonstrated before the
fix), and the r11 120-bit _salted_hash_pair key (hex chars 1-15 AND
17-31 of ONE digest) separates them: the mode now expects a fully
GREEN gate. At 100 TB gram counts (~1e12) the 60-bit birthday bound
expects ~4e5 such merges, so this was a real scale exposure, not a
test curiosity. Run the crash pass, then the directed family gate:

    python tools/degen_sweep.py --grams
    SMDP_VERIFY_VANILLA=1 python tools/verify_local.py /tmp/smdp_degen \
        ext_dup_span_profile ext_dedup_substr_spans \
        ext_fingerprint_winnow ext_dedup_ngram_jaccard ext_ngram_census

(`ext_fingerprint_winnow` keys windows on the 60-bit hash in BOTH
engines — a collision alters the selected fingerprints identically
on both sides, a documented sketch property, not a divergence; it
rides the gate to prove exactly that.)

Exit code = number of crashing queries.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

REPO = "/root/repo"
sys.path.insert(0, REPO)

# Overridable so a pytest run and an interactive sweep never rebuild
# the SAME fixture dir under each other (a mid-run rmtree+rewrite
# reads as parquet corruption in whichever process loses the race).
FIXTURE = os.environ.get("SMDP_DEGEN_DIR", "/tmp/smdp_degen")
SRC_SF = "/root/testdata/sf0.001"


# Deterministic unicode enrichments, cycled by doc_id % len. Each is a
# (suffix, infix) pair: the suffix is appended as new "words"; the
# infix replaces the SECOND space of the doc (when present) so unusual
# whitespace lands inside running text, where tokenizers must face it.
_UNICODE_CASES = [
    # 0: unchanged ASCII control case
    ("", " "),
    # 1: emoji, a ZWJ family sequence (man+ZWJ+woman+ZWJ+girl+ZWJ+boy),
    #    and a PRECOMPOSED e-acute (U+00E9)
    ("\U0001f600\U0001f525 caf\u00e9 "
     "\U0001f468\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466", " "),
    # 2: CJK + Hangul
    ("\u4e2d\u6587\u6d4b\u8bd5 \u65e5\u672c\u8a9e\u306e\u30c6\u30ad"
     "\u30b9\u30c8 \ud55c\uad6d\uc5b4", " "),
    # 3: RTL Arabic + Hebrew
    ("\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627"
     "\u0644\u0645 \u05e9\u05dc\u05d5\u05dd", " "),
    # 4: DECOMPOSED e-acute (e + combining U+0301) and i-diaeresis —
    #    the NFC/NFD seam; NBSP (U+00A0) as the infix "space"
    ("cafe\u0301 nai\u0308ve", "\u00a0"),
    # 5: astral-plane letters (math fraktur, Gothic hwair), fullwidth
    #    forms; THIN SPACE (U+2009) infix
    ("\U0001d518\U0001d52b\U0001d526 \uff21\uff22\uff23\uff11\uff12 "
     "\U00010348", "\u2009"),
    # 6: case-mapping edges — Turkish dotted/dotless I, German sharp s,
    #    Greek capital vs final sigma — incl. inside a URL HOST, where
    #    canonicalization lowercases
    ("\u0130stanbul \u0131spanak stra\u00dfe \u03a3\u039f\u03a6\u039f"
     "\u03a3 \u03c3\u03bf\u03c6\u03cc\u03c2 "
     "https://\u0130STANBUL.example/Path?q=1", " "),
    # 7: curly punctuation, em dash, ellipsis; ZERO-WIDTH SPACE
    #    (U+200B) inside a word
    ("\u201cquoted\u201d \u2014 dash\u2026 zero\u200bwidth", " "),
    # 8: VERTICAL TAB (\x0B) — the one char where Java \s and RE2 \s
    #    disagree — inside a word, inside a URL, and as the infix
    ("vert\x0btab https://ex.com/a\x0bb trailing", "\x0b"),
]


# JSON payload edge cases for --json mode (all probed engine-by-engine
# in r7): malformed payloads (DuckDB json functions hard-error where
# Spark reads NULL), non-integral field tokens (DuckDB CAST/TRY_CAST
# ROUNDS '1.5' to 2 where Spark reads NULL), duplicate keys (both
# engines first-wins on lookup, both COUNT the duplicate), sibling
# type errors (a typed map parse on Spark nulls the WHOLE map),
# non-object valid JSON, BIGINT overflow, unicode escapes.
_JSON_EDGE_PROPS = [
    '{"k":1}', '{"k":1.5}', '{"k":"7"}', '{"k":null}', '{"k":[1,2]}',
    '{"k":{"a":1}}', '{"k":1,"k":2}', '{"k":1e999}', 'not json', '{',
    '{"K":3}', '{"k":true}', '{"k":-5}', '{"k":"x","j":2}', '{}',
    None, '{"k":99999999999999999999999}', '3', '[1,2]', ' {"k":4} ',
    '{"k": 00012}', '{"k":"0012"}', '{"k":"\\u00e9"}',
    '{"k":"7\\n"}', '{"k":"-3\r"}',
]


def build_fixture(
    empty: bool = False,
    nulls: bool = False,
    nonfinite: bool = False,
    unicode_: bool = False,
    json_edge: bool = False,
    tz: bool = False,
    dups: bool = False,
    skew: bool = False,
    grams: bool = False,
) -> str:
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(FIXTURE, ignore_errors=True)
    os.makedirs(FIXTURE)
    for f in glob.glob(f"{SRC_SF}/*.parquet"):
        name = os.path.basename(f)
        if name.split(".")[0] in ("documents", "events", "embeddings"):
            continue
        (shutil.copytree if os.path.isdir(f) else shutil.copy)(
            f, os.path.join(FIXTURE, name)
        )

    if grams:
        # real sf0.001 docs + planted docs carrying MINED 60-bit-
        # colliding grams (one gram per doc, the gram IS the text)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from mine_gram_collision import MINED

        import pyarrow.parquet as _pq

        real = _pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
        next_id = 1_000_001
        rows = {c: [] for c in ("doc_id", "text", "lang", "source", "n_chars")}
        for salt, (g1, g2, _pfx) in sorted(MINED.items()):
            for g in (g1, g2):
                rows["doc_id"].append(next_id)
                rows["text"].append(g)
                rows["lang"].append("en")
                rows["source"].append("planted")
                rows["n_chars"].append(len(g))
                next_id += 1
        planted = pa.table(rows).cast(real.schema)
        pq.write_table(
            pa.concat_tables([real, planted]),
            os.path.join(FIXTURE, "documents.parquet"),
        )
        for name in ("events", "embeddings"):
            src = os.path.join(SRC_SF, f"{name}.parquet")
            (shutil.copytree if os.path.isdir(src) else shutil.copy)(
                src, os.path.join(FIXTURE, f"{name}.parquet")
            )
        return FIXTURE

    if dups:
        # every table carries duplicate primary keys: true redelivery
        # (identical payload twice), changed-content re-crawl (same
        # key, different payload), and full ties (same user+ts+key).
        # Any key-uniqueness assumption in a tie-break surfaces as a
        # cross-engine (or run-to-run) hash mismatch in the gate.
        pq.write_table(
            pa.table(
                {
                    #         uniq  redeliv.  changed   uniq
                    "doc_id": [1, 2, 2, 3, 3, 4, 5, 5, 5, 6],
                    "text": [
                        "alpha beta gamma",
                        "dup dup same text", "dup dup same text",
                        "first crawl words", "second crawl words",
                        "delta epsilon",
                        "tri a", "tri b", "tri c",
                        "zeta eta theta",
                    ],
                    "lang": ["en"] * 4 + ["de"] * 2 + ["en"] * 4,
                    "source": ["src1", "src1", "src2", "src1", "src1",
                               "src2", "src3", "src3", "src1", "src2"],
                    "n_chars": [16, 17, 17, 17, 18, 13, 5, 5, 5, 14],
                }
            ).cast(
                pa.schema(
                    [("doc_id", pa.int64()), ("text", pa.string()),
                     ("lang", pa.string()), ("source", pa.string()),
                     ("n_chars", pa.int64())]
                )
            ),
            os.path.join(FIXTURE, "documents.parquet"),
        )
        t0 = dt.datetime(2024, 1, 1)
        hr = dt.timedelta(hours=1)
        ev = {
            # event_id 2 redelivered identically; 3 redelivered with a
            # different value; 5+6 = two DIFFERENT ids at the SAME
            # (user, ts) — the rank tie; 7 duplicated at same ts AND
            # same value (full-row dup)
            "event_id": [1, 2, 2, 3, 3, 4, 5, 6, 7, 7, 8, 9],
            "ts": [t0, t0 + hr, t0 + hr, t0 + 2 * hr, t0 + 2 * hr,
                   t0 + 3 * hr, t0 + 4 * hr, t0 + 4 * hr,
                   t0 + 5 * hr, t0 + 5 * hr, t0 + 26 * hr, t0 + 27 * hr],
            "user_id": [1, 1, 1, 2, 2, 2, 3, 3, 3, 3, 1, 2],
            "event_type": ["view", "click", "click", "view", "view",
                           "purchase", "view", "view", "click", "click",
                           "view", "purchase"],
            "value": [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0,
                      8.0, 8.0, 9.0, 10.0],
            "props": ['{"k":1}'] * 12,
        }
        pq.write_table(
            pa.table(
                ev,
                schema=pa.schema(
                    [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()), ("event_type", pa.string()),
                     ("value", pa.float64()), ("props", pa.string())]
                ),
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        dim = 64
        vecs = [
            [1.0] + [0.0] * (dim - 1),
            [0.5] * dim, [0.5] * dim,              # vec_id 2 redelivered
            [0.1] * dim, [0.9] + [0.1] * (dim - 1),  # vec_id 3 changed
            [0.2] * dim,
        ]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([1, 2, 2, 3, 3, 4], pa.int64()),
                    "embedding": pa.array(
                        [[float(x) for x in v] for v in vecs],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0, 1, 1, 0, 1, 0], pa.int32()),
                }
            ),
            os.path.join(FIXTURE, "embeddings.parquet"),
        )
        return FIXTURE

    if skew:
        # EXTREME-SKEW distribution class (r8 verdict item 7 — the one
        # shape no other fixture covers): the real sf0.001 tables
        # REMAPPED so single hot keys dominate, the way production
        # event streams (one bot user, one 'view' type, one release
        # day) and crawled corpora (one boilerplate page, one dominant
        # source, one template embedding) actually arrive. Everything
        # stays deterministic parquet both engines read identically —
        # the gate then asks whether any salting/tie-break/sampling
        # device gives an engine-local answer under heavy ties.
        import duckdb as _duck

        con = _duck.connect()
        # events: 50% of rows -> user_id 7; 90% -> event_type 'view';
        # 50% of stamps collapse onto one hot day (same wallclock time
        # of day, so sessions/windows see massive ties)
        con.sql(
            f"""
            COPY (
              SELECT event_id,
                     CASE WHEN event_id % 2 = 0 THEN
                          TIMESTAMP '2024-06-06 00:00:00'
                          + (ts - date_trunc('day', ts)) ELSE ts END AS ts,
                     CASE WHEN event_id % 2 = 0 THEN 7 ELSE user_id END
                       AS user_id,
                     CASE WHEN event_id % 10 < 9 THEN 'view'
                          ELSE event_type END AS event_type,
                     value, props
              FROM '{SRC_SF}/events.parquet'
            ) TO '{FIXTURE}/events.parquet' (FORMAT PARQUET)
            """
        )
        # documents: 40% of docs become ONE boilerplate page (a giant
        # exact-dup cluster AND a hot shingle/gram bucket); 80% of
        # rows collapse onto one source
        boiler = (
            "breaking news recession fears grow as markets tumble "
            "again today analysts say the downturn may deepen"
        )
        con.sql(
            f"""
            COPY (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 < 2 THEN '{boiler}'
                          ELSE text END AS text,
                     lang,
                     CASE WHEN doc_id % 5 < 4 THEN 'src1' ELSE source END
                       AS source,
                     CASE WHEN doc_id % 5 < 2 THEN {len(boiler)}
                          ELSE n_chars END AS n_chars
              FROM '{SRC_SF}/documents.parquet'
            ) TO '{FIXTURE}/documents.parquet' (FORMAT PARQUET)
            """
        )
        # embeddings: half the vectors become ONE template vector (a
        # hot LSH bucket / centroid / knn hub); labels collapse 95/5
        con.sql(
            f"""
            COPY (
              SELECT vec_id,
                     CASE WHEN vec_id % 2 = 0 THEN
                          (SELECT embedding FROM '{SRC_SF}/embeddings.parquet'
                           ORDER BY vec_id LIMIT 1)
                          ELSE embedding END AS embedding,
                     CASE WHEN vec_id % 20 = 0 THEN label
                          ELSE 0 END AS label
              FROM '{SRC_SF}/embeddings.parquet'
            ) TO '{FIXTURE}/embeddings.parquet' (FORMAT PARQUET)
            """
        )
        # orders: 50% of rows onto one hot customer (the classic
        # skewed-join probe key)
        con.sql(
            f"""
            COPY (
              SELECT * REPLACE (
                CASE WHEN o_orderkey % 2 = 0 THEN 777 ELSE o_custkey END
                  AS o_custkey)
              FROM '{SRC_SF}/orders.parquet'
            ) TO '{FIXTURE}/orders.parquet' (FORMAT PARQUET)
            """
        )
        return FIXTURE

    if tz:
        # documents/embeddings stay real; events carries naive stamps
        # that straddle the 2024 US and EU DST transitions. Each pair
        # brackets a transition instant, and four stamps are
        # wallclocks that DO NOT EXIST (spring-forward gap) or exist
        # TWICE (fall-back fold) when misread as local time — any
        # engine or collection path that round-trips through local
        # time either shifts them (hash mismatch in the gate) or
        # throws. The values are stored as plain timestamp[us]; the
        # contract says they are UTC wallclocks, full stop.
        for name in ("documents.parquet", "embeddings.parquet"):
            shutil.copy(f"{SRC_SF}/{name}", os.path.join(FIXTURE, name))
        stamps = [
            # US spring-forward 2024-03-10 07:00 UTC (02:00->03:00 ET)
            dt.datetime(2024, 3, 10, 6, 30), dt.datetime(2024, 3, 10, 7, 30),
            # the ET-nonexistent wallclock itself
            dt.datetime(2024, 3, 10, 2, 30),
            # US fall-back 2024-11-03 06:00 UTC; 01:30 is ET-ambiguous
            dt.datetime(2024, 11, 3, 5, 30), dt.datetime(2024, 11, 3, 6, 30),
            dt.datetime(2024, 11, 3, 1, 30),
            # EU spring-forward 2024-03-31 01:00 UTC; 02:30 CET-nonexistent
            dt.datetime(2024, 3, 31, 0, 30), dt.datetime(2024, 3, 31, 1, 30),
            dt.datetime(2024, 3, 31, 2, 30),
            # EU fall-back 2024-10-27 01:00 UTC; 02:30 CET-ambiguous
            dt.datetime(2024, 10, 27, 0, 30), dt.datetime(2024, 10, 27, 1, 30),
            dt.datetime(2024, 10, 27, 2, 30),
            # midnight UTC boundaries around a transition day (the
            # epoch-day integer contract's own seam)
            dt.datetime(2024, 3, 10, 0, 0), dt.datetime(2024, 3, 11, 0, 0),
            dt.datetime(2024, 11, 3, 0, 0), dt.datetime(2024, 11, 4, 0, 0),
        ]
        # pad with ordinary stamps so sessions/windows/funnels have
        # multi-day, multi-user structure
        t0 = dt.datetime(2024, 3, 8, 12, 0)
        stamps += [t0 + dt.timedelta(hours=7 * i) for i in range(14)]
        n = len(stamps)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(list(range(1, n + 1)), pa.int64()),
                    "ts": pa.array(stamps, pa.timestamp("us")),
                    "user_id": pa.array(
                        [i % 4 + 1 for i in range(n)], pa.int64()
                    ),
                    "event_type": pa.array(
                        [("view", "click", "purchase")[i % 3]
                         for i in range(n)],
                        pa.string(),
                    ),
                    "value": pa.array(
                        [round(0.5 * (i % 9) + 1.0, 2) for i in range(n)],
                        pa.float64(),
                    ),
                    "props": pa.array(
                        ['{"k":%d}' % (i % 7) for i in range(n)], pa.string()
                    ),
                }
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        return FIXTURE

    if json_edge:
        # documents/embeddings stay real; events keeps sane
        # ts/user/value columns so the full gate runs everywhere,
        # while props cycles through the JSON payload edge cases the
        # r7 probe measured engine-by-engine (see _JSON_EDGE_PROPS)
        for name in ("documents.parquet", "embeddings.parquet"):
            shutil.copy(f"{SRC_SF}/{name}", os.path.join(FIXTURE, name))
        t0 = dt.datetime(2024, 1, 1)
        n = len(_JSON_EDGE_PROPS) * 2
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(list(range(1, n + 1)), pa.int64()),
                    "ts": pa.array(
                        [t0 + dt.timedelta(hours=i) for i in range(n)],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array(
                        [i % 5 + 1 for i in range(n)], pa.int64()
                    ),
                    "event_type": pa.array(
                        [("view", "click", "purchase")[i % 3] for i in range(n)],
                        pa.string(),
                    ),
                    "value": pa.array(
                        [round(1.5 * (i + 1), 2) for i in range(n)],
                        pa.float64(),
                    ),
                    "props": pa.array(
                        [
                            _JSON_EDGE_PROPS[i % len(_JSON_EDGE_PROPS)]
                            for i in range(n)
                        ],
                        pa.string(),
                    ),
                }
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        return FIXTURE

    if unicode_:
        # events + embeddings stay the real sf0.001 tables; only the
        # text corpus is rewritten, preserving doc_id / lang / source
        # distributions and the n_chars = code-point-length contract.
        for name in ("events.parquet", "embeddings.parquet"):
            shutil.copy(f"{SRC_SF}/{name}", os.path.join(FIXTURE, name))
        base = pq.read_table(f"{SRC_SF}/documents.parquet").to_pylist()
        texts = []
        for row in base:
            suffix, infix = _UNICODE_CASES[row["doc_id"] % len(_UNICODE_CASES)]
            text = row["text"] or ""
            if infix != " ":
                first = text.find(" ")
                second = text.find(" ", first + 1) if first >= 0 else -1
                if second >= 0:
                    text = text[:second] + infix + text[second + 1 :]
            if suffix:
                text = f"{text} {suffix}" if text else suffix
            texts.append(text)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in base], pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array([r["lang"] for r in base], pa.string()),
                    "source": pa.array(
                        [r["source"] for r in base], pa.string()
                    ),
                    "n_chars": pa.array(
                        [len(t) for t in texts], pa.int64()
                    ),
                }
            ),
            os.path.join(FIXTURE, "documents.parquet"),
        )
        return FIXTURE

    if nonfinite:
        t0 = dt.datetime(2024, 1, 1)
        day = dt.timedelta(days=1)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(list(range(1, 11)), pa.int64()),
                    "ts": pa.array(
                        [t0, t0 + day, dt.datetime(1900, 1, 1),
                         dt.datetime(2260, 1, 1), t0 + 2 * day,
                         t0, t0 + day, t0 + 3 * day, t0, t0 + day],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([1, 2, 3, 4, 1, 2, 3, 4, 1, 2], pa.int64()),
                    "event_type": pa.array(
                        ["view", "click", "view", "purchase", "view",
                         "click", "view", "view", "purchase", "click"],
                        pa.string(),
                    ),
                    "value": pa.array(
                        [1.0, float("nan"), float("inf"), float("-inf"),
                         2.5, 1e308, -1e308, 0.0, 5e-324, -1e-310],
                        pa.float64(),
                    ),
                    "props": pa.array(['{"k":1}'] * 10, pa.string()),
                }
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        dim = 64
        vecs = [
            [1.0] + [0.0] * (dim - 1),
            [float("nan")] * dim,
            [float("inf")] + [0.0] * (dim - 1),
            [0.5] * dim,
            [-0.5] * dim,
            [1e30] * dim,
        ]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(list(range(1, 7)), pa.int64()),
                    "embedding": pa.array(
                        [[float(x) for x in v] for v in vecs],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0, 1, 0, 1, 0, 1], pa.int32()),
                }
            ),
            os.path.join(FIXTURE, "embeddings.parquet"),
        )
        # documents stay the real sf0.001 table in this mode
        shutil.copy(
            f"{SRC_SF}/documents.parquet",
            os.path.join(FIXTURE, "documents.parquet"),
        )
        return FIXTURE

    if nulls:
        # orders is NULL-riddled too (r8, following the --empty
        # extension): NULL prices exercise the sorted-runs NULL-key
        # pin and every TPC-H-fed quantile/join path; NULL custkeys
        # exercise join null-handling; NULL dates hit the date casts
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([1, 2, 3, 4, 5, 6, 7, 8], pa.int64()),
                    "o_custkey": pa.array(
                        [1, None, 2, 3, None, 1, 2, 4], pa.int64()
                    ),
                    "o_orderstatus": pa.array(
                        ["O", None, "F", "O", None, "F", "O", None],
                        pa.string(),
                    ),
                    "o_totalprice": pa.array(
                        [100.5, None, 250.25, None, 75.0, None, 310.75, 42.0],
                        pa.float64(),
                    ),
                    "o_orderdate": pa.array(
                        [dt.datetime(2024, 1, 1), None,
                         dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 4),
                         None, dt.datetime(2024, 1, 6),
                         dt.datetime(2024, 1, 7), None],
                        pa.timestamp("us"),
                    ),
                    "o_orderpriority": pa.array(
                        ["1-URGENT", None, "3-MEDIUM", None,
                         "5-LOW", "2-HIGH", None, "4-NOT SPECIFIED"],
                        pa.string(),
                    ),
                }
            ),
            os.path.join(FIXTURE, "orders.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                    "text": pa.array(
                        [None, "alpha beta", None, "alpha beta gamma", "x", None],
                        pa.string(),
                    ),
                    "lang": pa.array([None, "en", "en", None, "de", None], pa.string()),
                    "source": pa.array(
                        ["src1", None, "src2", "src1", None, None], pa.string()
                    ),
                    "n_chars": pa.array([None, 10, None, 16, 1, None], pa.int64()),
                }
            ),
            os.path.join(FIXTURE, "documents.parquet"),
        )
        t0 = dt.datetime(2024, 1, 1)
        day = dt.timedelta(days=1)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(list(range(1, 11)), pa.int64()),
                    "ts": pa.array(
                        [t0, None, t0 + day, None, t0 + 2 * day,
                         t0, None, t0 + day / 2, t0, None],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array(
                        [1, 2, None, 4, None, 1, 2, None, 3, 4], pa.int64()
                    ),
                    "event_type": pa.array(
                        ["view", None, "click", "view", None,
                         "purchase", "view", None, "click", "view"],
                        pa.string(),
                    ),
                    "value": pa.array(
                        [1.0, None, 2.5, None, 3.0, 1.0, None, 2.0, None, 4.5],
                        pa.float64(),
                    ),
                    "props": pa.array(
                        ['{"k":1}', None, "not json", None, '{"k":2}',
                         None, "{", '{"k":3}', None, None],
                        pa.string(),
                    ),
                }
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        dim = 64
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(list(range(1, 7)), pa.int64()),
                    "embedding": pa.array(
                        [[1.0] + [0.0] * (dim - 1), None, [0.5] * dim,
                         None, [0.1] * dim, [0.2] * dim],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0, None, 1, 0, None, 1], pa.int32()),
                }
            ),
            os.path.join(FIXTURE, "embeddings.parquet"),
        )
        return FIXTURE

    if empty:
        # orders is zeroed too (r7 ADVICE): the orders-fed operators
        # (sorted runs, quantile devices, order-key joins) have the
        # same "my filter matched nothing" exposure as the corpus
        # tables — sink_sorted_runs' boundary index degenerated to
        # element_at(arr, 0) exactly here
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([], pa.int64()),
                    "o_custkey": pa.array([], pa.int64()),
                    "o_orderstatus": pa.array([], pa.string()),
                    "o_totalprice": pa.array([], pa.float64()),
                    "o_orderdate": pa.array([], pa.timestamp("us")),
                    "o_orderpriority": pa.array([], pa.string()),
                }
            ),
            os.path.join(FIXTURE, "orders.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([], pa.int64()),
                    "text": pa.array([], pa.string()),
                    "lang": pa.array([], pa.string()),
                    "source": pa.array([], pa.string()),
                    "n_chars": pa.array([], pa.int64()),
                }
            ),
            os.path.join(FIXTURE, "documents.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([], pa.int64()),
                    "ts": pa.array([], pa.timestamp("us")),
                    "user_id": pa.array([], pa.int64()),
                    "event_type": pa.array([], pa.string()),
                    "value": pa.array([], pa.float64()),
                    "props": pa.array([], pa.string()),
                }
            ),
            os.path.join(FIXTURE, "events.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([], pa.int64()),
                    "embedding": pa.array([], pa.list_(pa.float32())),
                    "label": pa.array([], pa.int32()),
                }
            ),
            os.path.join(FIXTURE, "embeddings.parquet"),
        )
        return FIXTURE

    docs = {
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["alpha beta alpha beta"] * 3 + ["", "solo"],
        "lang": ["en"] * 5,
        "source": ["s0"] * 5,  # outside the srcN priority scheme
        "n_chars": [21, 21, 21, 0, 4],
    }
    pq.write_table(
        pa.table(
            docs,
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
        ),
        os.path.join(FIXTURE, "documents.parquet"),
    )

    t0 = dt.datetime(2024, 1, 1)
    ev = {
        "event_id": list(range(1, 9)),
        "ts": [t0] * 8,
        "user_id": [7] * 8,
        "event_type": ["view"] * 8,
        "value": [1.0] * 6 + [None, None],
        "props": ['{"k":1}'] * 4 + [None] * 4,
    }
    pq.write_table(
        pa.table(
            ev,
            schema=pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            ),
        ),
        os.path.join(FIXTURE, "events.parquet"),
    )

    dim = len(
        pq.read_table(f"{SRC_SF}/embeddings.parquet").column("embedding")[0]
    )
    vecs = [[0.0] * dim] * 3 + [[1.0] + [0.0] * (dim - 1)] * 3
    emb = {
        "vec_id": list(range(1, 7)),
        "embedding": [[float(x) for x in v] for v in vecs],
        "label": [0] * 6,
    }
    pq.write_table(
        pa.table(
            emb,
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        os.path.join(FIXTURE, "embeddings.parquet"),
    )
    return FIXTURE


def main() -> int:
    from social_media_data_pipeline_recession_political_sentiment_spark import (
        registry,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.session import (
        get_session,
    )

    args = sys.argv[1:]
    empty = "--empty" in args
    nulls = "--nulls" in args
    nonfinite = "--nonfinite" in args
    unicode_ = "--unicode" in args
    json_edge = "--json" in args
    tz = "--tz" in args
    dups = "--dups" in args
    skew = "--skew" in args
    grams = "--grams" in args
    args = [
        a
        for a in args
        if a not in ("--empty", "--nulls", "--nonfinite", "--unicode",
                     "--json", "--tz", "--dups", "--skew", "--grams")
    ]
    build_fixture(
        empty=empty,
        nulls=nulls,
        nonfinite=nonfinite,
        unicode_=unicode_,
        json_edge=json_edge,
        tz=tz,
        dups=dups,
        skew=skew,
        grams=grams,
    )
    if tz:
        # BEFORE the JVM spawns: the child java process inherits TZ as
        # its default user.timezone — a driver box outside UTC. The
        # engine pins spark.sql.session.timeZone=UTC (session.py), so
        # every query must be unobservably identical under this.
        import time as _time

        os.environ["TZ"] = os.environ.get("SMDP_TZ", "America/New_York")
        _time.tzset()
    spark = get_session("smdp_degen", cpus=8)
    qs = registry.queries()
    names = args or list(qs)
    crashes = {}
    for name in names:
        try:
            qs[name](spark, FIXTURE).collect()
        except Exception as exc:  # noqa: BLE001 - sweep reports, not raises
            first = str(exc).splitlines()
            crashes[name] = first[0][:200] if first else type(exc).__name__
            print(f"CRASH {name}: {crashes[name]}", flush=True)
    kind = (
        "EMPTY corpus tables"
        if empty
        else "NULL-riddled tables"
        if nulls
        else "non-finite/extreme values"
        if nonfinite
        else "unicode-enriched corpus"
        if unicode_
        else "JSON-edge payloads"
        if json_edge
        else f"DST-edge stamps under TZ={os.environ.get('TZ')}"
        if tz
        else "duplicate primary keys"
        if dups
        else "planted 60-bit gram-hash collisions"
        if grams
        else "extreme single-key skew"
        if skew
        else "degenerate input"
    )
    print(f"\n{len(crashes)} of {len(names)} queries crash on {kind}")
    return len(crashes)


if __name__ == "__main__":
    raise SystemExit(main())
