"""Multimodal + as-of join query registrations (rows-only for the Arrow
mapInPandas featureizer; DuckDB's native ASOF JOIN verifies the as-of
operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vat_etl_spark.operators.asof import asof_join
from vat_etl_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    perceptual_hash,
)
from vat_etl_spark.operators.neardup import drop_hot, elect, expand
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


# DuckDB twin of the featureizer: ASCII payloads (probed) make the 8-bin
# byte histogram conditional counts over ascii()%8; the entropy is the SAME
# left-to-right fold the Python loop runs (subtract-fold == negated add-fold
# exactly in IEEE; the all-one-bin case is guarded so 0.0 never becomes
# -0.0), and log2 resolves to the same libm on both engines (probed).
_FEAT_BINS = 8
_FEAT_TERMS = " + ".join(
    f"(CASE WHEN c{i} > 0 THEN (c{i} / CAST(nb AS DOUBLE))"
    f" * log2(c{i} / CAST(nb AS DOUBLE)) ELSE 0.0 END)"
    for i in range(_FEAT_BINS)
)
_FEAT_HASH = "CAST(0 AS BIGINT)"
for _i in range(_FEAT_BINS):
    _FEAT_HASH = f"(({_FEAT_HASH}) * 31 + c{_i}) % 1000000007"
_FEAT_DOM = "CASE " + " ".join(
    f"WHEN c{i} = m THEN {i}" for i in range(_FEAT_BINS)
) + " END"
_FEATURES_SQL = f"""
WITH d AS (
  SELECT doc_id, text, coalesce(octet_length(encode(text)), 0) AS nb
  FROM documents
),
b AS (
  SELECT doc_id, ascii(substring(text, CAST(i AS INT), 1)) % 8 AS bin
  FROM d, UNNEST(generate_series(1, nb)) AS g(i)
),
h AS (
  SELECT doc_id,
         {", ".join(f"CAST(sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}" for i in range(_FEAT_BINS))}
  FROM b GROUP BY doc_id
),
j AS (
  SELECT d.doc_id, d.nb,
         {", ".join(f"coalesce(c{i}, 0) AS c{i}" for i in range(_FEAT_BINS))},
         greatest({", ".join(f"coalesce(c{i}, 0)" for i in range(_FEAT_BINS))}) AS m
  FROM d LEFT JOIN h USING (doc_id)
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
       CASE WHEN ({_FEAT_TERMS}) = 0.0 THEN 0.0
            ELSE -({_FEAT_TERMS}) END AS entropy_proxy,
       CAST({_FEAT_HASH} AS BIGINT) AS hist_hash,
       CAST({_FEAT_DOM} AS BIGINT) AS dominant_byte
FROM j
"""


@query("multimodal_features", oracle=_FEATURES_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload column convention + Arrow-batched feature extraction
    (the deterministic stand-in for image/audio decode — see
    operators/multimodal.py). The 256-bin byte histogram stays available on
    the operator API; the registered query projects scalar summaries (an
    order-sensitive rolling hash of the bins, and the dominant byte) so
    row canonicalizers can sort/hash the output."""
    docs = _t(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(docs))
    return feats.select(
        "doc_id",
        "n_bytes",
        "entropy_proxy",
        F.aggregate(
            "byte_histogram",
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * 31 + c) % F.lit(1000000007).cast("bigint"),
        ).alias("hist_hash"),
        (
            F.array_position(
                "byte_histogram", F.array_max("byte_histogram")
            ) - F.lit(1)
        ).alias("dominant_byte"),
    )


_ASOF_SQL = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.event_id AS event_id_matched, c.ts AS ts_matched
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("asof_purchase_to_click", oracle=_ASOF_SQL)
def asof_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior (or
    simultaneous) click — verified against DuckDB's native ASOF JOIN."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return asof_join(
        purchases, clicks, on="ts", by=["user_id"], value_cols=["event_id", "ts"]
    )


_FRAMES_SQL = """
WITH mm AS (SELECT doc_id, hex(encode(text)) AS payload_hex,
                   octet_length(encode(text)) AS n_bytes FROM documents),
idx AS (SELECT unnest(generate_series(0, 1023, 2)) AS frame_idx)
SELECT doc_id, frame_idx,
       substring(payload_hex, cast(frame_idx * 128 + 1 AS BIGINT), 128) AS frame_hex,
       cast(len(substring(payload_hex, cast(frame_idx * 128 + 1 AS BIGINT), 128)) / 2 AS BIGINT) AS frame_len
FROM mm CROSS JOIN idx
WHERE frame_idx * 64 < n_bytes
"""


@query("multimodal_frame_sample", oracle=_FRAMES_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd 64-byte frame from each payload — byte-exact against the
    DuckDB oracle (frames compared as hex; DuckDB slices the hex string
    since it cannot byte-slice blobs)."""
    from vat_etl_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs), frame_bytes=64, every_nth=2)


_SHARD_SQL = """
WITH sized AS (
  SELECT doc_id, octet_length(encode(text)) AS payload_bytes FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY payload_bytes DESC, doc_id) AS rk
  FROM sized
),
assigned AS (SELECT *, cast((rk - 1) % 8 AS INTEGER) AS shard FROM ranked)
SELECT shard, count(*) AS n_items,
  cast(sum(payload_bytes) AS BIGINT) AS shard_bytes,
  cast(min(payload_bytes) AS BIGINT) AS min_item,
  cast(max(payload_bytes) AS BIGINT) AS max_item
FROM assigned GROUP BY shard
"""


@query("multimodal_shard_packing", oracle=_SHARD_SQL)
def multimodal_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment for binary payloads: items sorted
    by size (desc, id tie-break) are dealt round-robin over 8 shards — the
    deterministic size-striped layout that keeps every shard within one
    max-item of the mean (the distributed stand-in for greedy LPT
    bin-packing, whose sequential state doesn't parallelize), so no
    training worker drags the epoch.

    Output is the per-shard manifest (counts + byte totals — what the data
    loader reads). Scale shape: sizes are map-side (octet_length, no
    payload movement); the global size-rank is the only coordination and
    runs over (size,id) pairs, not payloads — via ``two_pass_rank``
    (functions/ranks.py: range buckets + broadcast offsets, no
    single-partition WindowExec; rank arithmetic is layout-free so the
    round-robin assignment is identical)."""
    from vat_etl_spark.functions.ranks import two_pass_rank

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "utf-8")).cast("bigint").alias(
            "payload_bytes"
        ),
    )
    from vat_etl_spark.functions.caching import cache_latest

    (sized,) = cache_latest("multimodal_shard_packing", sized)
    ranked = two_pass_rank(
        sized, [("payload_bytes", "desc"), ("doc_id", "asc")], rank_col="rk"
    )
    assigned = ranked.select(
        "payload_bytes", ((F.col("rk") - 1) % 8).cast("int").alias("shard")
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_items"),
        F.sum("payload_bytes").alias("shard_bytes"),
        F.min("payload_bytes").alias("min_item"),
        F.max("payload_bytes").alias("max_item"),
    )


# DuckDB twin of the s16le framing: the corpus is pure ASCII (probed:
# octet_length(encode(text)) == length(text) at every sf), so byte k of the
# payload is ascii(substring(text, k, 1)) and a little-endian 16-bit sample
# is b0 + 256*b1 (< 32768, so the sign branch never fires) — the framing
# becomes integer SQL the driver can hash cell-for-cell.
_AUDIO_FRAMES_SQL = """
WITH d AS (
  SELECT doc_id, text, coalesce(octet_length(encode(text)), 0) AS nb
  FROM documents
),
s AS (
  SELECT doc_id, ((j - 1) // 2) AS sidx,
         ascii(substring(text, CAST(j AS INT), 1))
       + 256 * ascii(substring(text, CAST(j + 1 AS INT), 1)) AS smp
  FROM d, UNNEST(generate_series(1, nb - 1, 2)) AS g(j)
),
fr AS (
  SELECT doc_id, sidx // 256 AS frame_idx,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(smp * smp) AS BIGINT) AS energy,
         CAST(max(smp) AS BIGINT) AS peak_abs
  FROM s GROUP BY doc_id, sidx // 256
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       n_samples, energy, peak_abs
FROM fr
UNION ALL
SELECT doc_id, 0, 0, 0, 0 FROM d WHERE nb < 2
"""


@query("multimodal_audio_frames", oracle=_AUDIO_FRAMES_SQL)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style framing of binary payloads (s16le PCM interpretation):
    per-frame integer energy + peak — see
    operators/multimodal.py:audio_frame_energy. Integer-only output,
    map-only plan; pytest pins exact parity with a pure-Python struct
    reference (tests/test_multimodal.py) and the DuckDB oracle replays
    the byte math over the ASCII payloads (see _AUDIO_FRAMES_SQL)."""
    from vat_etl_spark.operators.multimodal import audio_frame_energy

    docs = _t(spark, sf_dir, "documents")
    return audio_frame_energy(attach_payload(docs))


# DuckDB twin of the scene-cut heuristic: zero-pad every frame to the fixed
# 64-byte width (positions past BOTH frames contribute 0 to the delta, so
# padding to 64 equals padding to max(len_a, len_b)), take the per-position
# lag along the frame axis, and sum |v - prev_v| per frame. Frame 0 is
# always a keyframe with delta 0.
_KEYFRAMES_SQL = """
WITH d AS (
  SELECT doc_id, text, coalesce(octet_length(encode(text)), 0) AS nb
  FROM documents
),
nf AS (
  SELECT doc_id, text, nb,
         greatest(CAST(ceil(nb / 64.0) AS BIGINT), 1) AS n_frames
  FROM d
),
padded AS (
  SELECT doc_id, f, p,
         CASE WHEN f * 64 + p + 1 <= nb
              THEN ascii(substring(text, CAST(f * 64 + p + 1 AS INT), 1))
              ELSE 0 END AS v
  FROM nf,
       UNNEST(generate_series(0, n_frames - 1)) AS gf(f),
       UNNEST(generate_series(0, 63)) AS gp(p)
),
lagged AS (
  SELECT doc_id, f, v,
         lag(v) OVER (PARTITION BY doc_id, p ORDER BY f) AS pv
  FROM padded
),
del AS (
  SELECT doc_id, f, sum(abs(v - coalesce(pv, 0))) AS raw_delta
  FROM lagged GROUP BY doc_id, f
)
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(CASE WHEN f = 0 THEN 0 ELSE raw_delta END AS BIGINT) AS delta,
       (f = 0 OR raw_delta > 2000) AS is_keyframe
FROM del
"""


@query("multimodal_keyframes", oracle=_KEYFRAMES_SQL)
def multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style keyframe selection (byte-delta scene-cut heuristic) —
    see operators/multimodal.py:keyframe_select. Integer-only map-only
    plan; pytest pins exact parity with a pure-Python reference and the
    DuckDB oracle replays the padded byte-delta recurrence
    (see _KEYFRAMES_SQL)."""
    from vat_etl_spark.operators.multimodal import keyframe_select

    docs = _t(spark, sf_dir, "documents")
    return keyframe_select(attach_payload(docs))


# DuckDB replay of the block-average perceptual hash over ASCII payloads:
# byte k = ascii(char k), the 256 Bresenham block boundaries are the same
# integer divisions, the bit rule the same integer-exact cross product.
# The signature is 8 unsigned 32-bit BAND WORDS (band k = bits
# [32k, 32k+32), each < 2^32 — sign-safe as BIGINT in both engines);
# banding joins on the band word, Hamming is the sum of per-band
# xor-popcounts — so the full detection (signature -> 8x32-bit bands ->
# exact verify) is driver-hashable.
_PHASH_CTES = """
d AS (
  SELECT doc_id, text, coalesce(octet_length(encode(text)), 0) AS nb
  FROM {src}
),
tot AS (
  SELECT doc_id, sum(ascii(substring(text, CAST(k AS INT), 1))) AS total
  FROM d, UNNEST(generate_series(1, nb)) g(k) GROUP BY doc_id
),
bsums AS (
  SELECT b.doc_id, b.i, b.nb, t.total,
         (b.hi - b.lo) AS blen,
         sum(ascii(substring(b.text, CAST(k AS INT), 1))) AS bs
  FROM (
    SELECT doc_id, text, nb, i, (i * nb) // 256 AS lo, ((i + 1) * nb) // 256 AS hi
    FROM d, UNNEST(generate_series(0, 255)) g(i)
    WHERE nb > 0
  ) b
  JOIN tot t USING (doc_id), UNNEST(generate_series(b.lo + 1, b.hi)) gk(k)
  WHERE b.hi > b.lo
  GROUP BY b.doc_id, b.i, b.nb, t.total, b.hi - b.lo
),
bwords AS (
  SELECT doc_id, i // 32 AS band_no,
         sum(CASE WHEN bs * nb >= total * blen
                  THEN (CAST(1 AS BIGINT) << CAST(i % 32 AS INT)) ELSE 0 END) AS band_key
  FROM bsums GROUP BY doc_id, i // 32
),
sigs AS (
  SELECT dg.doc_id, dg.band_no, coalesce(w.band_key, 0) AS band_key
  FROM (SELECT d.doc_id, g.band_no
        FROM d, (SELECT unnest(generate_series(0, 7)) AS band_no) g) dg
  LEFT JOIN bwords w ON w.doc_id = dg.doc_id AND w.band_no = dg.band_no
),
vecs AS (
  SELECT doc_id, list(band_key ORDER BY band_no) AS bl FROM sigs GROUP BY doc_id
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         list_sum(list_transform(list_zip(va.bl, vb.bl),
                                 p -> bit_count(xor(p[1], p[2])))) AS hamming
  FROM sigs a JOIN sigs b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  JOIN vecs va ON va.doc_id = a.doc_id
  JOIN vecs vb ON vb.doc_id = b.doc_id
  WHERE list_sum(list_transform(list_zip(va.bl, vb.bl),
                                p -> bit_count(xor(p[1], p[2])))) <= 3
)
"""

_PHASH_PAIRS_SQL = (
    "WITH " + _PHASH_CTES.format(src="documents")
    + "SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM pairs"
)

_PHASH_PLANTED_SRC = """(
  SELECT doc_id, text FROM documents
   WHERE text IS NOT NULL AND length(text) >= 1
  UNION ALL
  SELECT -doc_id - 1 AS doc_id,
         chr(xor(ascii(substring(text, 1, 1)), 64)) || substring(text, 2) AS text
  FROM documents
  WHERE text IS NOT NULL AND length(text) >= 1 AND doc_id % 20 = 0
)"""

_PHASH_PLANTED_SQL = (
    "WITH " + _PHASH_CTES.format(src=_PHASH_PLANTED_SRC)
    + """
SELECT CASE WHEN doc_a < 0 THEN doc_b ELSE doc_a END AS doc_id,
       CASE WHEN doc_a < 0 THEN -doc_a - 1 ELSE -doc_b - 1 END AS variant_of,
       CAST(hamming AS BIGINT) AS hamming
FROM pairs
WHERE (doc_a < 0) <> (doc_b < 0)
"""
)


@query("multimodal_dedup_phash", oracle=_PHASH_PAIRS_SQL)
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over BINARY payloads via perceptual-hash
    banding — the multimodal twin of SimHash text dedup: a 256-bit
    block-average signature per payload, carried as 8 unsigned 32-bit
    band words (operators/multimodal.py: perceptual_hash); only pairs
    sharing at least one exact band word are candidates, and candidates
    are verified by exact Hamming distance (per-band xor + bit_count
    summed, native integer ops). Pigeonhole-lossless for hamming <= 7
    (8 bands, any width), so the tau = 3 threshold loses nothing.

    Why 256 bits and not the round-12 56 (measured, SCALE.md round 13):
    a 7-bit band key has 128 possible values, so at 500 K docs every
    band bucket held ~3 900 docs and the "band-keyed equi-join, never
    all-pairs" claim collapsed — 9.4 BILLION candidate pairs. Band-key
    cardinality must exceed the corpus size; widening bands shrinks
    buckets without weakening the pigeonhole bound — the same
    cardinality lesson as the text MinHash R=2→3 cliff. Pytest pins the
    signature against a pure-Python reference and the blocking against
    the brute-force pair set.

    Round 14 (verdict-r13 task 1 — the measured candidate-quadratic
    curve): the JOIN blocks on 4 fused 64-bit keys (_PHASH_JOIN_FUSED —
    squares the per-band collision probability; candidates 103 M → 26 K
    at 5 M docs, exponent 2.0 → 1.27/decade, still pigeonhole-lossless
    at tau=3), and join buckets are CAPPED at signature grain (the
    near-dup protocol, operators/neardup.py). Cap dormant at oracle
    scale (pytest) and on the 5 M decade corpus.

    On the synthetic testdata this returns ZERO rows and that is the
    correct answer: the corpus's near-dups are token SHUFFLES, which
    restructure the byte blocks; payload-level near-dups (bit flips,
    adjacent swaps) land within tau and are found — pinned on
    constructed families in tests/test_multimodal.py."""
    docs = _t(spark, sf_dir, "documents")
    return _phash_near_dup_pairs(attach_payload(docs))


# JOIN granularity (round 14, verdict-r13 task 1): candidates are blocked
# on FUSED 64-bit keys (adjacent 32-bit signature words packed into one
# long → 4 join bands) instead of the signature's 8×32-bit words.
# MULTIMODAL_DECADE_r13 measured the 32-bit join's candidate volume
# growing 1.03 M → 103 M pairs for 10× docs (exponent ≈2.0/decade) — and
# the mass was NOT in a few cappable hot buckets but spread across
# thousands of mid-size ones (cap=50 still left 68 M pairs), because
# 32-bit band words of block-average signatures are heavily non-uniform.
# Fusing pairs of words squares the per-band collision probability:
# measured 1 413 candidates at 500 K and 26 239 at 5 M (exponent 1.27,
# ~4 000× fewer at 5 M), while the pigeonhole guarantee still covers the
# contract (tau ≤ 3 flipped bits hit at most 3 of the 4 fused bands → at
# least one clean 64-bit match). The SIGNATURE stays 8×32 words — the
# DuckDB twin's banding/Hamming replay and every recorded hash are
# unchanged; only Spark's join key fuses. For 3 < tau ≤ 7 the join falls
# back to the 8×32 grain (lossless ≤ 7).
_PHASH_JOIN_FUSED = 4


def _phash_hamming(sig_a, sig_b):
    """Exact Hamming distance between two band-word arrays: per-band
    xor + popcount, summed — native integer ops, long result."""
    return F.aggregate(
        F.zip_with(
            sig_a,
            sig_b,
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _phash_band_explode(grp: DataFrame, tau: int) -> DataFrame:
    """(srep, bands, band_no, band_key): join-band membership of the
    signature-grain representatives. tau ≤ 3 → _PHASH_JOIN_FUSED fused
    64-bit keys (see the constant's comment for the measured candidate
    cliff this closes); 3 < tau ≤ 7 → the signature's 8×32-bit words
    (pigeonhole-lossless ≤ 7). shiftleft|or packing is bijective on the
    unsigned-32 word pair, so a fused-key equality IS a 64-bit signature
    slice equality."""
    if tau <= 3:
        expr = (
            f"transform(sequence(0, {_PHASH_JOIN_FUSED - 1}), "
            "i -> struct(i AS band_no, "
            "shiftleft(bands[2*i], 32) | bands[2*i+1] AS band_key))"
        )
        return grp.select(
            "srep", "bands", F.explode(F.expr(expr)).alias("s")
        ).select("srep", "bands", "s.band_no", "s.band_key")
    if tau <= 7:
        return grp.select(
            "srep", "bands", F.posexplode("bands").alias("band_no", "band_key")
        )
    raise ValueError(f"tau={tau} exceeds the 8-band pigeonhole bound (7)")


def _phash_rep_cands(grp: DataFrame, tau: int) -> DataFrame:
    """(ra, rb, hamming): Hamming-verified near-dup pairs at the
    signature-representative grain — bucket-capped band-keyed equi-join,
    never all-pairs, exact per-band xor+popcount verify on candidates
    only. Signatures ride THROUGH the band explode so the join yields
    sig_a/sig_b directly (re-deriving them via joins back to the sig
    frame re-ran the corpus-sized byte pass up to 4× pre-persist;
    post-persist it would still be two extra shuffles)."""
    kept = drop_hot(_phash_band_explode(grp, tau), ["band_no", "band_key"])
    a = kept.select(
        F.col("srep").alias("ra"),
        F.col("bands").alias("sig_a"),
        "band_no",
        "band_key",
    )
    b = kept.select(
        F.col("srep").alias("rb"),
        F.col("bands").alias("sig_b"),
        "band_no",
        "band_key",
    )
    return (
        a.join(b, ["band_no", "band_key"])
        .filter(F.col("ra") < F.col("rb"))
        .select(
            "ra", "rb", _phash_hamming(F.col("sig_a"), F.col("sig_b")).alias("hamming")
        )
        .filter(F.col("hamming") <= tau)
        .distinct()
    )


def _phash_near_dup_pairs(mm: DataFrame, tau: int = 3) -> DataFrame:
    """Shared detection core: signature extraction → signature-grain
    election → bucket-capped band-keyed equi-join → exact Hamming
    verification → member expansion (the near-dup protocol,
    operators/neardup.py). (doc_a, doc_b, hamming), doc_a < doc_b.
    Members of a group share its signature, so the rep pair's verified
    hamming is exact for every expanded doc pair, and within-group pairs
    sit at hamming 0 ≤ tau by construction."""
    # the group key IS the signature (8×32-bit band words, 64 bytes —
    # narrow enough to shuffle directly, unlike the text path's 45-column
    # frame); the mapInPandas byte pass runs once into the persist, and
    # election, band join and expansion all read the cache
    sigs = perceptual_hash(mm).select("doc_id", "bands").persist()
    grp, dup = elect(sigs, ["bands"])
    return expand(
        _phash_rep_cands(grp, tau), dup.persist(), hamming=F.lit(0).cast("long")
    )


@query("multimodal_dedup_phash_planted", oracle=_PHASH_PLANTED_SQL)
def multimodal_dedup_phash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIVE-path audit of the phash near-dup detector on real corpus
    bytes: the honest corpus answer for `multimodal_dedup_phash` is zero
    rows (testdata near-dups are token shuffles, min pairwise hamming 8),
    so this companion derives a deterministic near-dup family IN-QUERY —
    for every 20th document a variant payload with bit 6 of its first
    byte flipped (variant doc_id = -doc_id - 1, collision-free) — and
    runs the exact same banded detection over originals + variants.
    Detection, not construction, is under audit: a one-byte payload
    perturbation moves one block mean, so variants land within tau of
    their original (hamming 0-3 measured on this corpus) and the band
    join must FIND them (pigeonhole-lossless for hamming <= 7).
    Output: one row per detected (original, variant) pair, plus
    summary-friendly hamming. Pytest (tests/test_multimodal.py) pins the
    detected set exactly equal to the pure-Python-reference prediction of
    which planted pairs sit within tau. Scale shape identical to the
    production query — the planted family only adds 5% synthetic rows."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") >= 1)
    )
    planted_src = docs.where(F.col("doc_id") % 20 == 0)
    # flip bit 6 of the first character (ASCII corpus: one payload byte
    # moves by 64 — enough to perturb a block mean so variants land at a
    # REAL spread of hammings, measured 0-3 on this corpus, all within
    # tau; flipping only the low bit left every pair at hamming 0)
    flipped_text = F.concat(
        F.expr("chr(ascii(substring(text, 1, 1)) ^ 64)"),
        F.expr("substring(text, 2)"),
    )
    variants = planted_src.select(
        (-F.col("doc_id") - 1).alias("doc_id"), flipped_text.alias("text")
    )
    fam = docs.select("doc_id", "text").unionByName(variants)
    pairs = _phash_near_dup_pairs(attach_payload(fam))
    # report only pairs touching a planted variant, mapped back to the
    # original id: (orig_id, variant_of) — detections among real docs
    # stay the production query's business
    return (
        pairs.where((F.col("doc_a") < 0) != (F.col("doc_b") < 0))
        .select(
            F.when(F.col("doc_a") < 0, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id"),
            F.when(F.col("doc_a") < 0, -F.col("doc_a") - 1)
            .otherwise(-F.col("doc_b") - 1)
            .alias("variant_of"),
            "hamming",
        )
        .orderBy("doc_id", "variant_of")
    )
