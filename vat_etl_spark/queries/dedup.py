"""Deduplication operators over ``documents`` (north-star extension,
SURVEY.md §2.9): exact (hash-groupBy), n-gram Jaccard, SimHash, MinHash-LSH,
embedding-cosine near-dup. Exact + Jaccard + cosine are oracle-verified;
SimHash/MinHash use Spark-specific hashing (xxhash64 / ml.feature) and get
rows-only checks plus determinism pytest coverage.

Scale notes: exact dedup is one hash aggregate on the fingerprint (the only
shuffle). Pairwise ops (Jaccard, cosine) are written as token-/bucket-joins
so candidate generation is key-partitioned, never a full cross join; at
100 TB you additionally band the LSH signatures so each bucket's pair list
fits an executor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import os
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.localrel import local_rows_df
from vat_etl_spark.operators.neardup import drop_hot, elect, expand
from vat_etl_spark.queries import QUERIES, query
from vat_etl_spark.queries.text import tokens_expr
from vat_etl_spark.sources.catalog import read_table as _t


_EXACT_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
)
SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM keyed GROUP BY fp
"""


@query("dedup_exact", oracle=_EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint,
    deterministic survivor (min doc_id) — unlike dropDuplicates, which keeps
    an arbitrary row per key."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").cast("binary")
    )
    return (
        d.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_KEYED_SQL = """
SELECT lang, source, min(doc_id) AS keep_doc_id, count(*) AS n_in_group
FROM documents GROUP BY lang, source
"""


@query("dedup_by_key", oracle=_KEYED_SQL)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-key dedup (keep-first per (lang, source)) — the deterministic
    form of dropDuplicates([cols])."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_in_group")
    )


_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b,
  cast(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE cast(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.6
"""


def _docs_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, repartitioned for fan-out consumers.

    The sf-scale documents.parquet is ONE file with one row group → one
    input partition, so a shingle/token explode pipeline would run its
    entire per-row transform on a single core (measured 2× the audit's
    truth pass at sf0.1). On a real cluster maxPartitionBytes splits the
    scan across executors; locally the explicit doc_id repartition is the
    equivalent. ADAPTIVE: when the scan already yields at least half the
    cluster parallelism in splits (the real-cluster case), this is a
    no-op — the corpus is never shuffled just to re-split it. Only the
    explode-heavy fuzzy-dedup family uses this; scan-light queries keep
    the plain read."""
    d = _t(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    if not _fanout_needed(d.rdd.getNumPartitions(), target):
        return d
    return d.repartition(target, "doc_id")


def _fanout_needed(partitions: int, parallelism: int) -> bool:
    """Whether a scan of ``partitions`` splits is re-split across
    ``parallelism`` cores: never on one core; otherwise when the scan is a
    single split or has fewer than half the cores' worth."""
    return parallelism > 1 and (partitions == 1 or partitions < parallelism // 2)


def _hashed_sets(docsets: DataFrame) -> DataFrame:
    """Per-doc distinct-token array → sorted array of xxhash64 token ids.

    Verification intersects these ID arrays instead of the string arrays:
    Spark's ``array_intersect`` builds a per-call hash set, and doing
    that over boxed UTF8Strings measured 116 s for 3.2 M pairs at sf0.1
    vs 8.4 s over longs — the id mapping is a 14× constant-factor win and
    is PURE MAP (no vocab dimension to number, shuffle, or broadcast —
    the alternative, dense ids from a sorted-vocab window, serializes the
    vocabulary through one task and at shingle granularity the "vocab"
    grows with the corpus). xxhash64 is deterministic across runs,
    engines, and partitionings; the cost is a collision bound, not a
    sampling one: P(any two of V distinct tokens colliding) ≈ V²/2⁶⁵
    (≈5e-4 at a web-scale 10⁸ vocab, ≈1e-17 at this corpus), and a
    collision can only merge two tokens — common/n shift by at most the
    collision count. The per-round DuckDB oracle re-proves exact counts
    at sf0.01."""
    return docsets.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(F.transform("ts", lambda t: F.xxhash64(t)))
        ).alias("ts"),
    )


def _verify_common_tokens(cands: DataFrame, docsets: DataFrame) -> DataFrame:
    """Exact per-pair overlap verification from per-doc DISTINCT token
    arrays (pass through _hashed_sets first — see its rationale): two
    row-sized joins plus an in-row ``array_intersect``, instead of
    re-exploding every candidate into its tokens and counting matches
    through a shuffle. The explode plan moves candidates × avg-tokens
    rows (measured 64 M rows for 3.2 M candidates at sf0.1); this one
    moves exactly one row per candidate with the id array in the row —
    the shuffle is output-bound. ``docsets`` must carry (doc_id, ts)."""
    return _verify_common_ids(cands, _hashed_sets(docsets))


def _verify_common_ids(cands: DataFrame, hashed: DataFrame) -> DataFrame:
    """_verify_common_tokens for inputs ALREADY in hashed-id form
    (doc_id, ts: array<long> — i.e. a _hashed_sets output). Split out so
    dedup_minhash_banded can hash the shingle sets once, checkpoint the
    narrow id frame, and feed BOTH the banding index and this verify
    stage from it without recomputing the string-shingle transform."""
    va = hashed.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("_ts_a"))
    vb = hashed.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("_ts_b"))
    return (
        cands.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            cands["*"],
            F.size(F.array_intersect("_ts_a", "_ts_b")).alias("common"),
            F.size("_ts_a").alias("n_a"),
            F.size("_ts_b").alias("n_b"),
        )
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by token-set Jaccard ≥ 0.6 as a prefix-filtered
    set-similarity join (PPJoin-lite). The ORACLE IS THE NAIVE ALGORITHM
    (full inverted-index self-join), so the driver gate re-proves
    losslessness every round, but candidates are generated from only each
    document's prefix tokens.

    Theory: for Jaccard ≥ τ, any qualifying pair overlaps in ≥ ⌈τ·n⌉ tokens
    of EACH document (a pair failing min-size τ·max can't reach τ at all),
    so a document can withhold its ⌈τ·n⌉−1 most common tokens from the
    inverted index and no pair is lost: prefix length L = n − ⌈τ·n⌉ + 1
    under a global rarest-first (df asc, tok) token order. At τ=0.6 that
    indexes ~40% of each token set, and because the withheld tokens are
    precisely the highest-df ones, the hot-token skew that makes the naive
    join's shuffle quadratic in the hottest token's document frequency at
    100 TB is what gets dropped: a hot token enters a doc's prefix only
    when the doc has almost nothing rarer (postings shrink and equality
    with the naive join are asserted in tests/test_dedup_determinism.py).

    Candidates are then verified exactly via _verify_common_tokens
    (row-sized array intersection; this corpus is near-dup-SATURATED —
    1.8 M true pairs among 5 000 docs at sf0.1, see SCALE.md — so
    verification, not candidate generation, dominates and its shuffle
    must be output-bound)."""
    tau = 0.6
    d = _docs_fanout(spark, sf_dir)
    docsets = d.select(
        "doc_id", "lang", F.array_distinct(tokens_expr(F.col("text"))).alias("ts")
    )
    toks = docsets.select("doc_id", "lang", F.explode("ts").alias("tok"))
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_ = toks.groupBy("tok").agg(F.count("*").alias("df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok"))
    ranked = toks.join(df_, "tok").join(sizes, "doc_id").select(
        "doc_id", "lang", "tok", "n", rk.alias("rk")
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = _verify_common_tokens(cands, docsets)
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return (
        pairs.select("doc_a", "doc_b", "common", "n_a", "n_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


_COSDUP_SQL = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
                         cast(b.embedding AS DOUBLE[])) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.label = b.label
  AND list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
                             cast(b.embedding AS DOUBLE[])) >= 0.3
"""


def cosine_expr(a, b):
    """Cosine similarity between two array<double> columns as a native fold
    (bit-identical to DuckDB's list_cosine_similarity on DOUBLE[] — probed)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


@query("dedup_embedding_cosine", oracle=_COSDUP_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.3) with label-blocking — the
    blocking key stands in for the LSH bucket that bounds candidate pairs at
    scale."""
    em = _t(spark, sf_dir, "embeddings")
    a = em.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"),
                  _dbl(F.col("embedding")).alias("ea"))
    b = em.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
                  _dbl(F.col("embedding")).alias("eb"))
    j = a.join(b, (F.col("vec_a") < F.col("vec_b")) & (F.col("la") == F.col("lb")))
    cos = cosine_expr(F.col("ea"), F.col("eb"))
    return j.select("vec_a", "vec_b", cos.alias("cosine")).filter(F.col("cosine") >= 0.3)


_MHB_BANDS = 15
_MHB_ROWS = 3

_MHB_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   for i in range(1, len(ws) - 1)]) AS shingles
  FROM w WHERE len(ws) >= 3
),
toks AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(common AS INT) AS common,
  CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b,
  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.6
"""


def _shingle_docsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ts) with ts = the doc's DISTINCT 3-word shingles — the
    shared input of the banded MinHash index, the ml.feature A/B
    reference's exact-verify stage, and their common all-pairs oracle."""
    d = _docs_fanout(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    shingles = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(ws) - 3),"
            " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
        )
    )
    return (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", shingles.alias("ts"))
    )


def _ml_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from Spark ml.feature's MinHashLSH
    approxSimilarityJoin (hashed-Jaccard distance ≤ 0.4) — the candidate
    GENERATOR of the A/B reference path; see dedup_minhash_ml_reference
    for the scale fence."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    d = _docs_fanout(spark, sf_dir).select("doc_id", "text")
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+")
    ng = NGram(n=3, inputCol="toks", outputCol="shingles")
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    shingled = ng.transform(tok.transform(d)).filter(F.size("shingles") > 0)
    staged = tf.transform(shingled)
    mh = MinHashLSH(inputCol="features", outputCol="sig", numHashTables=8, seed=42)
    model = mh.fit(staged)
    pairs = model.approxSimilarityJoin(staged, staged, 0.4, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .distinct()
    )


@query("dedup_minhash_ml_reference", oracle=_MHB_SQL)
def dedup_minhash_ml_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml.feature MinHashLSH kept ONLY as an explicitly-named A/B reference
    against the production banded path (dedup_minhash_banded) — NOT a
    production path.

    SCALE FENCE (round-10 decade, SCALE.md): MinHashLSH OR-amplifies
    numHashTables SINGLE-hash bands, so a band collision is as likely as
    the pair's RAW Jaccard — on a 500 K-doc Zipfian corpus the hot
    buckets go per-bucket-quadratic and the approxSimilarityJoin's
    straggler tail ran > 55 min before being aborted, while the b×r
    banded replacement finished the same decade output-linear (0.94
    exponent) and 4-16× faster at 50 K. Do not route pipeline or bench
    traffic through this query; it exists so the A/B recall comparison
    (dedup_lsh_recall_eval) and the oracle gate keep proving the banded
    path equivalent on the pinned data.

    DETECTION CONTRACT (round-11 graduation from rows-only): candidates
    from approxSimilarityJoin are re-verified by the SAME exact
    shingle-set Jaccard stage as the banded path (_verify_common_tokens,
    ≥ 0.6), so the output equals the banded query's and shares its naive
    all-pairs DuckDB oracle (_MHB_SQL). Probabilistic like every MinHash
    index — 8 OR-ed single-hash bands miss an exactly-J=0.6 pair with
    probability (1−0.6)⁸ ≈ 0.07 % — measured complete at both driver
    SFs; the lowercasing RegexTokenizer and HashingTF collisions can
    only MERGE shingles (raise a pair's hashed similarity), so the 0.4
    hashed-distance cut keeps every exact-J ≥ 0.6 candidate."""
    cands = _ml_minhash_candidates(spark, sf_dir)
    docsets = _shingle_docsets(spark, sf_dir)
    pairs = _verify_common_tokens(cands, docsets)
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return pairs.select(
        "doc_a", "doc_b", "common", "n_a", "n_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.6)


@query("dedup_minhash_banded", oracle=_MHB_SQL)
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs with PROPER banded (AND-OR) amplification —
    the scale-correct replacement for ml.feature MinHashLSH's
    approxSimilarityJoin, kept alongside it ({B} bands × {R} rows here vs
    its numHashTables=8 bands of ONE hash each).

    Why this exists (round-10 decade finding, SCALE.md): Spark ml's
    MinHashLSH OR-amplifies single-hash bands, so a band's collision
    probability equals the pair's RAW Jaccard similarity — on a Zipfian
    50 K-doc corpus the candidate volume is merely wasteful (measured
    0.79 exponent, round 7), but at 500 K docs the hot buckets go
    per-bucket-quadratic and the join's straggler tail ran >55 min before
    being aborted. AND-ing {R} min-hashes per band drops a band collision
    to J^{R} (0.22 at J=0.6 vs 0.6), which keeps buckets
    high-selectivity as the corpus grows — the b×r banding every
    at-scale MinHash system (and this repo's SimHash gate) uses.

    Round-11 5M-doc hardening (SCALE.md third decade): the original
    {B}=8×{R}=2 scheme survived 500 K docs but went per-bucket-quadratic
    at 5 M on the same Zipfian corpus — measured 371 M candidate pairs,
    300 M of them from buckets > 1 000 docs (top bucket 12 K docs), and
    the verify join's spill filled 78 GB of disk. J² selectivity is not
    enough once hot shingles dominate the per-seed argmin: bucket
    membership grows ∝N, pair volume ∝N². Fixed three ways at once:
    {R}=3 bands (J³ collision — 40× fewer candidates at 5 M, measured),
    a bucket cap (operators/neardup.py), and the signature
    computation moved from {NH} interpreted higher-order transforms to
    one explode + whole-stage-codegen min(xxhash64) aggregation whose
    map-side partial collapse shuffles exactly one row per doc.

    Pipeline, all native expressions: distinct 3-word shingles → 64-bit
    shingle ids (_hashed_sets, computed once and checkpointed — shared
    by index and verify) → explode → {NH} min-hashes (min over
    xxhash64(id, seed), one codegen hash-aggregate) → {B} band keys
    (xxhash64 of the band's {R} sigs) → bucket-capped exploded band
    self-join (candidates per bucket, never all-pairs) → EXACT
    shingle-set Jaccard verification on candidates only
    (array_intersect, row-sized) → pairs with jaccard ≥ 0.6.

    ORACLE: the DuckDB twin is the NAIVE ALL-PAIRS exact algorithm, so
    the driver gate re-proves detection-completeness on the pinned data
    every round (feasible at oracle scale; the banded index is the same
    answer computed without all-pairs). The contract is probabilistic by
    construction — recall 1−(1−J^{R})^{B} ≈ 0.97 at exactly J=0.6, ≈ 1
    at the planted-twin 0.82 — so this is dataset-pinned like the CMS
    ε·N bound: measured complete (28/28, 25/25 pairs) at both driver
    SFs, and a future dataset with a pair at the J≈0.6 boundary can
    legitimately sit in the ~3% per-pair miss window. Also pinned vs
    exact truth in tests/test_dedup_determinism.py.

    PySpark trap fixed here in round 10 (caught by a missed J=0.989
    pair): a two-parameter lambda in a higher-order function binds by
    ARITY to (element, index) — the `lambda t, s=s:` closure idiom
    silently fed the element INDEX as the 'seed', collapsing all the
    "seeded" minhash functions into one. The round-11 explode+aggregate
    rewrite retired that HOF entirely (seeds are now plain second
    arguments to xxhash64 in an ordinary aggregate)."""
    docsets = _shingle_docsets(spark, sf_dir)
    # hash the shingle sets ONCE and persist the narrow id frame — both
    # the banding index and the exact verify read it (the string
    # transform is the dominant per-doc cost; see
    # _banded_minhash_candidates_ids for the pushdown trap this dodges).
    # persist(), not localCheckpoint(): the cache boundary fences the
    # filter pushdown just the same (consumers substitute the
    # InMemoryRelation), but cached blocks keep their lineage, so on a
    # real cluster an executor loss recomputes the lost partitions
    # instead of failing the job. localCheckpoint remains only in
    # explicitly local-mode tooling (decade harnesses) and in the
    # iterative connected-components loop, where the lineage CUT is the
    # point and a cluster deployment would use a reliable checkpoint dir.
    # Registered queries return a LAZY plan, so these persists cannot be
    # unpersisted inside the function (the caller's action materializes
    # them): the caller drops them at the run boundary with
    # session.release_engine_caches.
    hashed = _hashed_sets(docsets).persist()
    cands = _banded_minhash_candidates_ids(hashed)
    pairs = _verify_common_ids(cands, hashed)
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return pairs.select(
        "doc_a", "doc_b", "common", "n_a", "n_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.6)


def _minhash_sig_frame(hashed: DataFrame) -> DataFrame:
    """(doc_id, h0..h{NH-1}): the per-doc MinHash signature vector as one
    explode + whole-stage-codegen min(xxhash64) hash-aggregate (partial
    aggregation collapses the exploded rows map-side, so the shuffle is
    one {NH}-long row per doc). Shared by the production candidate
    generator and the dormant-cap pytest pin, so a seed/layout change
    cannot leave the test pinning a stale copy.

    Spelled as ONE parameterized spark.sql call, not {NH} Column-API
    aggregate expressions: building 45 min(xxhash64(...)) Columns is
    ~135 py4j round-trips and measured 0.4-0.5 s of DRIVER time per
    bench pass at sf0.1 (the SQL string parses JVM-side in <0.1 s); the
    resolved plan — and every hash value — is identical, equality pinned
    in tests/test_dedup_determinism.py."""
    n_hash = _MHB_BANDS * _MHB_ROWS
    # F.expr strings, not composed Column objects: ~45 py4j calls
    # instead of ~225 (each min/xxhash64/lit/alias is a JVM round-trip;
    # building these Columns measured 0.4-0.5 s of driver time per bench
    # pass at sf0.1). Not spark.sql: parameterized {df} references
    # bypass the CacheManager in Spark 4.1 (measured — a persisted input
    # was fully recomputed), and temp-view references re-analyze the
    # whole subtree per call; F.expr over the existing DataFrame keeps
    # the analyzed child plan shared and the cache hot.
    return hashed.select("doc_id", F.explode("ts").alias("t")).groupBy(
        "doc_id"
    ).agg(
        *[F.expr(f"min(xxhash64(t, {s})) AS h{s}") for s in range(n_hash)]
    )


def _band_keys_sql() -> str:
    """The {B}-element banded (AND-OR) bucket-key array as a SQL
    expression string — xxhash64 over each band's {R} consecutive sigs.
    The banding layout lives here and nowhere else (_sig_slim bakes it
    into the slim frame; _minhash_bands explodes it)."""
    keys = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"h{b * _MHB_ROWS + r}" for r in range(_MHB_ROWS))
        + ")"
        for b in range(_MHB_BANDS)
    )
    return f"array({keys})"


def _sig_slim(sigs: DataFrame) -> DataFrame:
    """(doc_id, k1, k2, bks): the 128-bit identical-signature group key
    (two independent xxhash64s over all {NH} sigs — collision ~2^-128 at
    any corpus size) and the {B} banded bucket keys, computed in ONE
    narrow projection directly over the min-hash aggregate. The fat
    {NH}-column signature frame collapses to 4 columns HERE and never
    enters a join, shuffle, or persist — round-13 profiling showed the
    47-column frame flowing through the whole candidate DAG made
    Catalyst/AQE re-planning the dominant sf0.1 cost (~2 s of a 3 s pass
    was driver-side planning; executor time was done by +1.0 s)."""
    n_hash = _MHB_BANDS * _MHB_ROWS
    hs = ", ".join(f"h{s}" for s in range(n_hash))
    # ONE py4j call (selectExpr takes the whole string list at once)
    return sigs.selectExpr(
        "doc_id",
        f"xxhash64({hs}) AS k1",
        f"xxhash64(-1, {hs}) AS k2",
        f"{_band_keys_sql()} AS bks",
    )


def _minhash_bands(slim: DataFrame, grp: DataFrame) -> DataFrame:
    """(srep, bk): one row per banded bucket key of each signature-grain
    representative — ONE join-back of the elected rep-id list onto the
    slim frame (it arrives already hash-partitioned on doc_id from the
    min-hash aggregate, so only the rep-id list moves), then the explode
    of its ``bks`` array (layout in _band_keys_sql)."""
    reps = slim.join(
        grp.select(F.col("srep").alias("doc_id")), "doc_id"
    ).select(F.col("doc_id").alias("srep"), "bks")
    return reps.select("srep", F.explode("bks").alias("bk"))


def _banded_minhash_candidates_ids(hashed: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the b×r banded MinHash index
    over an ALREADY-HASHED id frame (doc_id, ts: array<long>) — the
    candidate GENERATOR of dedup_minhash_banded, split out so the
    stratified recall audit (dedup_lsh_recall_eval) can A/B it against
    the ml.feature generator on identical shingle sets. Election, bucket
    cap and member expansion are the shared near-dup protocol
    (operators/neardup.py); the signature, the {B}×{R} band layout and
    the exact Jaccard verify (downstream, at doc grain) are this path's.

    Min-wise hashing over the 64-bit shingle ids is min-wise hashing
    over the shingle set (the id mapping is a bijection up to the
    collision bound documented in _hashed_sets), and it lets the
    expensive interpreted string-shingle transform run exactly once per
    doc upstream: Catalyst pushes the explode's inferred size(ts)>0
    filter below the fan-out repartition into the single-row-group scan,
    which re-evaluates the full shingle pipeline per doc on ONE core when
    ts is still the string expression (measured 9 s of an 11 s sf0.1
    wall). Over a persisted id frame the filter is a size() on a
    materialized array."""
    # persisted ONCE, 4 columns: consumed by the rep-election aggregate
    # (narrow projection), the rep join-back and the dup-membership
    # slice. Nothing {NH}-columns wide ever enters a join, shuffle, or
    # persist (round 13: the fat frame made driver-side Catalyst/AQE
    # re-planning ~2 s of a 3 s sf0.1 pass).
    slim = _sig_slim(_minhash_sig_frame(hashed)).persist()
    grp, dup = elect(slim, ["k1", "k2"])
    # banded is NOT persisted (round 13): every consumer recomputes it as
    # a narrow explode over the slim CACHE and the grp join dedupes via
    # AQE ReusedExchange, while a persist layer here measured ~0.4 s of
    # fixed per-pass overhead at sf0.1 (cache registration +
    # TableCacheQueryStage jobs + the deepened cached-plan DAG serialized
    # into every task).
    kept = drop_hot(_minhash_bands(slim, grp), ["bk"])
    rep_cands = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.srep") < F.col("b.srep")),
        )
        .select(F.col("a.srep").alias("ra"), F.col("b.srep").alias("rb"))
        .distinct()
    )
    return expand(rep_cands, dup.persist())


for _fn in (
    dedup_minhash_banded,
    _banded_minhash_candidates_ids,
    _minhash_sig_frame,
    _band_keys_sql,
    _sig_slim,
):
    _fn.__doc__ = (
        _fn.__doc__.replace("{B}", str(_MHB_BANDS))
        .replace("{R}", str(_MHB_ROWS))
        .replace("{NH}", str(_MHB_BANDS * _MHB_ROWS))
    )


def simhash_expr(text_col):
    """64-bit SimHash of a text column as one native expression (xxhash64 +
    bit ops + fold) — shared by ``dedup_simhash`` and the streaming
    near-dup admission gate (streaming/corpus.py)."""
    toks = F.array_distinct(tokens_expr(text_col))
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    # 64 literal bit masks (bit 63 is the sign bit in two's complement)
    masks = [1 << i for i in range(63)] + [-(1 << 63)]
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    # For each bit: +1 if set else -1, summed over token hashes; sign → bit.
    bit_votes = F.transform(
        mask_arr,
        lambda m: F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes, mask_arr,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_frame(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """``df`` + a SimHash column — same signature as :func:`simhash_expr`
    bit-for-bit (verified), computed the fast way: token hashes stay
    JVM-side (native xxhash64 over the distinct-token array), and the
    64-bit majority VOTE runs as one Arrow-batched numpy kernel instead
    of an interpreted 64-mask higher-order fold. Measured at 50 K docs:
    12.1 s → 0.7 s (17×) — the vote was the admission gate's per-doc
    constant (SCALE.md round-8 decade). The expression form remains the
    semantic definition; this is the production execution path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(hs: pd.Series) -> pd.Series:
        # Accumulate into uint64 and reinterpret the whole array at the end
        # (.view has C-cast semantics on every numpy); the np.int64(...)
        # scalar constructor would raise OverflowError on numpy >= 2.0 for
        # signatures with bit 63 set (~half of all docs).
        res = np.empty(len(hs), dtype=np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, arr in enumerate(hs):
            if arr is None:  # null text -> null token array -> signature 0
                res[i] = 0
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if len(h) == 0:
                res[i] = 0
                continue
            bits = ((h[:, None] >> shifts) & np.uint64(1)).sum(
                axis=0, dtype=np.int64
            )
            votes = 2 * bits - len(h)
            res[i] = (
                np.where(votes > 0, np.uint64(1), np.uint64(0)) << shifts
            ).sum(dtype=np.uint64)
        return pd.Series(res.view(np.int64))

    hashed = F.transform(
        F.array_distinct(tokens_expr(F.col(text_col))), lambda t: F.xxhash64(t)
    )
    # NULL text -> signature 0, exactly like the expression form (its
    # null bit-votes collapse to 0 through the when/otherwise fold —
    # probed); gate callers filter nulls up front anyway
    return df.withColumn("_sh_hashes", hashed).withColumn(
        out, _sig("_sh_hashes")
    ).drop("_sh_hashes")


_NEARDUP_BANDS = 4  # 4 × 16-bit bands: pigeonhole-lossless for hamming <= 3
_NEARDUP_T = 3


def _simhash_sig_export_dir() -> str:
    """artifacts/simhash_sigs under the repo root — where dedup_simhash
    exports its per-corpus signature tables for the DuckDB oracle twin."""
    import os

    return os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "artifacts",
        "simhash_sigs",
    )


# The oracle twin verifies the two stages downstream of the (Spark-
# specific, xxhash64-based) signature itself: candidate BANDING must be
# lossless at the threshold and the Hamming verify must be exact. It runs
# the NAIVE ALL-PAIRS bit_count(xor) over the signatures dedup_simhash
# exports (deterministic content, rewritten on every call), picking the
# export matching THIS corpus by a CONTENT fingerprint both engines
# compute identically (order-insensitive sum of per-doc md5 residues;
# probed bit-equal Spark vs DuckDB incl. unicode) — a doc COUNT key is
# not enough: sf0.001 and sf0.01 both hold 500 docs. One static SQL
# string thereby serves every scale factor the sweep runs, and committed
# exports for the pinned testdata SFs make the SQL runnable before the
# Spark side has executed in a fresh checkout.
_SIMHASH_FP_MOD = 1_000_000_007

_SIMHASH_SQL = f"""
WITH sigs AS (
  SELECT doc_id, simhash
  FROM read_parquet('{_simhash_sig_export_dir()}/fp=*/*.parquet',
                    hive_partitioning = true)
  WHERE fp = (SELECT sum(('0x' || substr(md5(text), 1, 15))::BIGINT
                         % {_SIMHASH_FP_MOD})
              FROM documents
              WHERE text IS NOT NULL AND trim(text) <> '')
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {{T}}
"""


def _export_simhash_sigs(spark: SparkSession, sf_dir: str) -> str:
    """Compute and export the per-doc SimHash signatures of a corpus's
    non-empty docs to artifacts/simhash_sigs/fp=<fingerprint>/ and return
    the path — the shared DuckDB-oracle input of dedup_simhash AND
    corpus_neardup_admit_twin. Deterministic single-file pyarrow write
    (sorted rows, fixed name): a Spark write would mint a fresh UUID part
    name per run and churn the committed artifact; byte-stable output
    keeps git quiet. The collect is bounded by the signature table
    (8 B/doc — 4 MB even at the 500 K decade); the export-backed oracle
    is a pinned-testdata device, not a 100 TB path (there the gate is the
    stratified recall audit + pytest pins, as for every index)."""
    import os

    d = _docs_fanout(spark, sf_dir)
    nonempty = d.where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    sigd = simhash_frame(nonempty).select("doc_id", "simhash")
    fp = nonempty.agg(
        F.sum(
            F.pmod(
                F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long"),
                F.lit(_SIMHASH_FP_MOD),
            )
        ).alias("fp")
    ).collect()[0].fp
    out = os.path.join(_simhash_sig_export_dir(), f"fp={fp}")
    pdf = sigd.orderBy("doc_id").toPandas()
    os.makedirs(out, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(out, "sigs.parquet"),
    )
    for stale in os.listdir(out):
        if stale != "sigs.parquet":
            os.remove(os.path.join(out, stale))
    return out


@query("dedup_simhash", oracle=_SIMHASH_SQL.format(T=_NEARDUP_T))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit SimHash per document from token
    hashes (native xxhash64; the 64-bit majority vote runs on the Arrow
    fast path — simhash_frame, bit-identical to the expression form, 17×
    faster at 50 K docs), banded into 4×16-bit blocks — pigeonhole-
    LOSSLESS for the Hamming ≤ 3 admit threshold — then candidate pairs
    from the banded self-join are verified by exact Hamming
    (xor + bit_count). The same signature → band → verify pipeline the
    streaming near-dup admission gate runs per micro-batch
    (neardup_admit_plan), expressed as the batch pair-finder.

    ORACLE (round-11 graduation from rows-only): the signatures are
    exported to artifacts/simhash_sigs/fp=<fingerprint>/ (deterministic — pure
    xxhash64 of pinned data — so the write is idempotent), and the DuckDB
    twin recomputes the pairs NAIVE ALL-PAIRS over that export with its
    own bit_count(xor). What the gate thereby pins every round: banding
    loses no pair at the threshold (the pigeonhole claim) and the exact
    Hamming verify agrees bit-for-bit cross-engine. The signature
    function itself stays Spark-hash-specific (xxhash64 has no DuckDB
    twin) — its determinism and 64-bit shape are pytest-pinned
    (test_dedup_determinism.py, test_streaming.py).

    SKEW GUARD (same discipline as the gate): the banded join and the
    Hamming verify run at DISTINCT-SIGNATURE grain (election and member
    expansion: operators/neardup.py). On near-dup-saturated data
    identical signatures are the hot case (the testdata's planted
    token-shuffle twins hash IDENTICAL), so doc-grain banding would
    re-verify the same signature pair once per doc pair and a popular
    boilerplate signature would make its 16-bit band bucket quadratic in
    DOCS. Uncapped: a cap on 16-bit band keys would break the pigeonhole
    losslessness at scale."""
    # re-read the export so the pair plan and the oracle share one input
    # (and the signature job runs once, not once per banded branch)
    sig = spark.read.parquet(_export_simhash_sigs(spark, sf_dir)).select(
        "doc_id", "simhash"
    )
    grp, _ = elect(sig, ["simhash"])
    bands = grp.select(F.col("simhash").alias("ra"), _sim_bands(F.col("simhash")))
    bands = bands.select("ra", "b.band_no", "b.band_key")
    other = bands.select(F.col("ra").alias("rb"), "band_no", "band_key")
    hamming = F.bit_count(F.col("ra").bitwiseXOR(F.col("rb")))
    rep_pairs = (
        bands.join(other, ["band_no", "band_key"])
        .where((F.col("ra") < F.col("rb")) & (hamming <= _NEARDUP_T))
        .select("ra", "rb", hamming.cast("int").alias("hamming"))
        .distinct()
    )
    # the signature itself names its group and every doc is a member:
    # the expansion joins the sig read directly (no join back to grp)
    members = sig.select(F.col("simhash").alias("srep"), "doc_id")
    return expand(rep_pairs, members, hamming=F.lit(0))


def _sim_bands(sig_col):
    """Explode a 64-bit SimHash into (band_no, band_key) structs — the LSH
    blocking key. 4 bands of 16 bits: any pair within Hamming distance 3
    shares at least one full band (pigeonhole), so banded candidate
    generation is LOSSLESS for the admit threshold."""
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band_no"),
            F.shiftrightunsigned(sig_col, 16 * i)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("band_key"),
        )
        for i in range(_NEARDUP_BANDS)
    ])
    return F.explode(bands).alias("b")


def neardup_admit_plan(
    batch: DataFrame, existing_sigs: DataFrame | None = None
) -> DataFrame:
    """The streaming NEAR-dup admission gate as a pure lazy plan — the
    fuzzy sibling of ``corpus_admit_plan`` (exact content keys): a doc is
    admitted only if its 64-bit SimHash is further than Hamming distance
    {t} from (a) every signature in the persisted corpus index and
    (b) every EARLIER doc in the same batch (keep-first, the C4/in-batch
    policy of the exact gate's rank-1). Candidates come from 4×16-bit
    signature bands — pigeonhole-lossless at this threshold, never
    all-pairs — and are verified by exact Hamming (xor + bit_count).

    Greedy-keep-first note: an arriving doc is rejected when ANY earlier
    in-batch doc matches, even one itself rejected against the index —
    in that case the arrival is within 2·{t} of an already-admitted
    corpus doc, which the greedy gate treats as rejectable (documented
    over-rejection of chains; the exact transitive answer is
    dedup_connected_components, a batch job, not an admission gate).

    Scale shape: the corpus is touched ONLY as its signature index
    (8 bytes/doc); band join cost is per-bucket, never quadratic; at
    100 TB the index is bucketed on band_key so the per-batch candidate
    join co-locates. Empty/NULL-text docs are excluded up front (their
    signature is degenerately 0 and they would all collide).

    Skew guard: every banded join runs over the batch's DISTINCT
    signatures, represented by their min doc_id. A later doc sharing a
    signature has an earlier Hamming-0 twin, so it is rejected by one
    linear groupBy without generating a single banded pair — a
    pathological micro-batch of N identical/near-identical boilerplate
    docs (all landing in one band bucket) produces ZERO in-batch
    candidates instead of O(N²). Exactly equivalent to the all-arrivals
    self-join: a doc d is greedily rejected iff some earlier doc d' sits
    within Hamming {t}; the representative of d's own signature (if
    earlier) or of d''s signature (min ≤ d' < d, same Hamming distance —
    signatures equal) witnesses the same rejection, and conversely every
    representative witness is itself an earlier doc."""
    sigd = simhash_frame(
        batch.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
    )
    reps = sigd.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    dup_later = (
        sigd.select("doc_id", "simhash")
        .join(reps.withColumnRenamed("doc_id", "keep_id"), "simhash")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    rep_bands = reps.select(
        "doc_id", "simhash", _sim_bands(F.col("simhash"))
    ).select(
        "doc_id", "simhash", "b.band_no", "b.band_key"
    )
    rejected = dup_later
    if existing_sigs is not None:
        idx_bands = (
            existing_sigs.select(F.col("simhash").alias("sim_idx"))
            .distinct()
            .select("sim_idx", _sim_bands(F.col("sim_idx")))
            .select("sim_idx", "b.band_no", "b.band_key")
        )
        rejected = rejected.union(
            rep_bands.join(idx_bands, ["band_no", "band_key"])
            .where(
                F.bit_count(F.col("simhash").bitwiseXOR(F.col("sim_idx")))
                <= _NEARDUP_T
            )
            .select("doc_id")
            .distinct()
        )
    earlier = rep_bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_no", "band_key",
    )
    in_batch = (
        rep_bands.join(earlier, ["band_no", "band_key"])
        .where(
            (F.col("doc_a") < F.col("doc_id"))
            & (
                F.bit_count(F.col("simhash").bitwiseXOR(F.col("sim_a")))
                <= _NEARDUP_T
            )
        )
        .select("doc_id")
        .distinct()
    )
    rejected = rejected.union(in_batch)
    return sigd.join(rejected, "doc_id", "left_anti")


neardup_admit_plan.__doc__ = neardup_admit_plan.__doc__.format(t=_NEARDUP_T)


# Oracle twin of the greedy near-dup admission gate, NAIVE over the
# shared signature export (see _SIMHASH_SQL's header for the export /
# fingerprint mechanics): the gate's banded-candidate + representative
# skew-guard machinery reduces, by the documented equivalence in
# neardup_admit_plan, to plain EXISTS logic — a doc is rejected iff SOME
# EARLIER same-epoch doc (admitted or not) or SOME ADMITTED earlier-epoch
# doc sits within Hamming {T}. DuckDB re-derives both epochs' greedy
# outcomes all-pairs from the exported signatures, so the gate gets a
# cross-engine hash check of its admission SEMANTICS every round (the
# banding/skew-guard implementation is additionally pinned equal to the
# streaming execution in tests/test_streaming.py).
_NEARDUP_TWIN_SQL = f"""
WITH sigs AS (
  SELECT s.doc_id, s.simhash, d.lang, d.source
  FROM read_parquet('{_simhash_sig_export_dir()}/fp=*/*.parquet',
                    hive_partitioning = true) s
  JOIN documents d USING (doc_id)
  WHERE s.fp = (SELECT sum(('0x' || substr(md5(text), 1, 15))::BIGINT
                           % {_SIMHASH_FP_MOD})
                FROM documents
                WHERE text IS NOT NULL AND trim(text) <> '')
),
epoch1 AS (SELECT * FROM sigs WHERE doc_id % 10 < 8),
batch  AS (SELECT * FROM sigs WHERE doc_id % 10 >= 8),
idx AS (
  SELECT a.* FROM epoch1 a
  WHERE NOT EXISTS (
    SELECT 1 FROM epoch1 b WHERE b.doc_id < a.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {{T}})
)
SELECT a.doc_id, a.lang, a.source, a.simhash
FROM batch a
WHERE NOT EXISTS (
    SELECT 1 FROM batch b WHERE b.doc_id < a.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {{T}})
  AND NOT EXISTS (
    SELECT 1 FROM idx i
      WHERE bit_count(xor(a.simhash, i.simhash)) <= {{T}})
"""


@query("corpus_neardup_admit_twin", oracle=_NEARDUP_TWIN_SQL.format(T=_NEARDUP_T))
def corpus_neardup_admit_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming near-dup admission gate: the documents
    table split by ``doc_id % 10 >= 8`` into an earlier epoch (run
    through the gate itself — the signature index holds exactly what the
    gate ADMITS, as the stream's does) and an arriving batch run through
    :func:`neardup_admit_plan` against that index — exactly the function
    streaming/corpus.py's ``admit_neardup_batch`` executes per
    micro-batch, so tests/test_streaming.py pins the stream's per-epoch
    output equal to this query cell-for-cell. The testdata's planted
    token-shuffle near-dups hash to IDENTICAL SimHashes
    (bag-of-distinct-tokens signature), so this gate demonstrably
    rejects arrivals here.

    ORACLE (round-11 graduation from rows-only): DuckDB re-derives BOTH
    epochs' greedy admissions naive-all-pairs over the shared signature
    export (_NEARDUP_TWIN_SQL above) — the same exported-signature
    device as dedup_simhash, here checking the admission SEMANTICS
    (greedy keep-first vs earlier arrivals + admitted index) rather than
    the pair-finder."""
    _export_simhash_sigs(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 >= 8
    prior = neardup_admit_plan(d.where(~is_new))
    admitted = neardup_admit_plan(
        d.where(is_new), prior.select("simhash")
    )
    return admitted.select("doc_id", "lang", "source", "simhash")


_NEARDUP_PLANTED_SQL = """
WITH d AS (
  SELECT doc_id FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
v AS (
  SELECT CAST(1000000000 + doc_id AS BIGINT) AS arrival_id,
         doc_id AS orig_doc_id, 'variant' AS kind, FALSE AS admitted
  FROM d
),
n AS (
  SELECT CAST(2000000000 + doc_id AS BIGINT) AS arrival_id,
         doc_id AS orig_doc_id, 'novel' AS kind, TRUE AS admitted
  FROM d WHERE doc_id % 11 = 0
)
SELECT * FROM v UNION ALL SELECT * FROM n
"""


@query("corpus_neardup_admit_planted", oracle=_NEARDUP_PLANTED_SQL)
def corpus_neardup_admit_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLANTED-family audit of the SimHash near-dup admission gate, with a
    hash-free oracle — the positive/negative-path pin that does not rest
    on stream-equals-twin self-agreement (the
    ``multimodal_dedup_phash_planted`` pattern):

    - index = what the gate admits from the full corpus (the stream's
      steady state);
    - arriving batch = one REVERSED-TOKEN variant of EVERY corpus doc
      (ids 1e9+doc_id, order-preserving) plus, for every 11th doc, a
      NOVEL doc whose every token is salted with its doc_id (ids
      2e9+doc_id).

    Every variant must be REJECTED, provably for ANY hash function: the
    signature is a vote over the DISTINCT-token set, so a permutation has
    the exact same SimHash as its original — if the original was admitted
    the variant collides with the index at Hamming 0; if the original was
    rejected, the earlier doc that rejected it (Hamming <= 3) has its own
    variant EARLIER in this batch (order-preserving ids), which rejects
    this one in-batch (banding is pigeonhole-lossless at the threshold,
    so the candidate pair is always generated). Every novel doc must be
    ADMITTED: its salted tokens exist nowhere else, so its signature is
    an independent 64-bit point — nearest measured Hamming to anything is
    ~18 at every sf (threshold 3); the data and hash are deterministic,
    so this is a fixed property of the testdata, not a per-run gamble.
    The oracle therefore needs NO hash math: expected admit/reject is a
    pure structural function of doc_id — which the driver hash-pins
    cell-for-cell against this gate run."""
    d = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    prior = neardup_admit_plan(d)
    variants = d.select(
        (F.lit(1_000_000_000) + F.col("doc_id")).alias("doc_id"),
        F.array_join(F.reverse(tokens_expr(F.col("text"))), " ").alias("text"),
    )
    novels = d.where(F.col("doc_id") % 11 == 0).select(
        (F.lit(2_000_000_000) + F.col("doc_id")).alias("doc_id"),
        F.array_join(
            F.transform(
                tokens_expr(F.col("text")),
                lambda t: F.concat(t, F.lit("~"), F.col("doc_id").cast("string")),
            ),
            " ",
        ).alias("text"),
    )
    batch = variants.unionByName(novels)
    admitted = neardup_admit_plan(batch, prior.select("simhash"))
    return batch.join(
        admitted.select("doc_id", F.lit(True).alias("adm")), "doc_id", "left"
    ).select(
        F.col("doc_id").alias("arrival_id"),
        F.when(
            F.col("doc_id") >= 2_000_000_000, F.col("doc_id") - 2_000_000_000
        ).otherwise(F.col("doc_id") - 1_000_000_000).alias("orig_doc_id"),
        F.when(F.col("doc_id") >= 2_000_000_000, "novel")
        .otherwise("variant")
        .alias("kind"),
        F.coalesce("adm", F.lit(False)).alias("admitted"),
    )


_CC_SQL = """
WITH RECURSIVE
toks AS (
  SELECT doc_id, lang,
         unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sim AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE cast(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM sim
  UNION ALL
  SELECT doc_b, doc_a FROM sim
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS component,
       (min(label) = node) AS is_survivor
FROM reach GROUP BY node
"""


@query("dedup_connected_components", oracle=_CC_SQL)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup pairs (token-Jaccard ≥ 0.6)
    become an undirected graph; each document gets the min doc_id of its
    connected component; the component representative is the survivor.

    Iterative min-label propagation — each round is one join + one
    aggregate, state is (node, label), lineage cut per round with
    localCheckpoint. Rounds = component diameter (near-dup clusters are
    shallow; capped at 50). This is the keep-one step that turns pairwise
    near-dup evidence into a dedup decision, and the engine's pattern for
    iterative graph algorithms generally (oracle twin: DuckDB recursive
    CTE over the same edges).

    Only edge ENDPOINTS iterate: a document with no near-dup edge keeps
    its own label forever, so isolated docs are excluded up front and
    union back in afterward. On a real corpus (duplicate clusters ≪
    corpus) that shrinks the per-round state from |corpus| to
    |docs-with-dups|; the synthetic corpus is near-dup-saturated, so the
    local win is modest — the point is the 100 TB shape."""
    pairs = QUERIES["dedup_ngram_jaccard"](spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst")
    edges = edges.localCheckpoint(eager=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    endpoints = edges.select(F.col("src").alias("doc_id")).distinct()
    isolated = docs.join(endpoints, "doc_id", "left_anti").withColumn(
        "label", F.col("doc_id")
    )
    labels = endpoints.withColumn("label", F.col("doc_id")).localCheckpoint(
        eager=True
    )
    # labels are min-aggregated each round, so per-node labels only ever
    # DECREASE: the global label sum is a monotone convergence witness,
    # and comparing it round-over-round (one tiny agg on the snapshot)
    # replaces the old changed-rows join against the previous state
    prev_sum = None
    for _ in range(50):
        neigh = (
            labels.join(edges, labels["doc_id"] == edges["src"])
            .select(F.col("dst").alias("doc_id"), F.col("label"))
        )
        new_labels = (
            labels.select("doc_id", "label").union(neigh)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        label_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    else:
        raise RuntimeError("connected components did not converge in 50 rounds")
    return labels.unionByName(isolated).select(
        "doc_id",
        F.col("label").alias("component"),
        (F.col("label") == F.col("doc_id")).alias("is_survivor"),
    )


_FUZZY_SQL = """
WITH c AS (
  SELECT c_custkey, right(c_name, 2) AS blk, right(c_name, 6) AS sfx
  FROM customer
),
s AS (
  SELECT s_suppkey, right(s_name, 2) AS blk, right(s_name, 6) AS sfx
  FROM supplier
)
SELECT c.c_custkey, s.s_suppkey, levenshtein(c.sfx, s.sfx) AS dist
FROM c JOIN s USING (blk)
WHERE levenshtein(c.sfx, s.sfx) <= 1
"""


@query("fuzzy_match_names", oracle=_FUZZY_SQL)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-similarity join (entity-resolution core): match
    customer/supplier identities whose key suffixes are within edit
    distance 1, with a cheap equality *blocking key* (last 2 chars) so the
    quadratic levenshtein only runs inside blocks.

    This is the standard scale shape for fuzzy joins: never
    cross-join-then-filter (O(n*m) edit distances); derive a blocking key
    both sides agree on (phonetic code, prefix, LSH bucket), equi-join on
    it (hash-partitioned, broadcastable small side), and spend edit
    distance only on co-blocked candidates. Recall is tunable by OR-ing
    multiple blocking passes. levenshtein() is identically defined in
    Spark and DuckDB, so the whole result is oracle-exact."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("right(c_name, 2)").alias("blk"),
        F.expr("right(c_name, 6)").alias("c_sfx"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr("right(s_name, 2)").alias("blk"),
        F.expr("right(s_name, 6)").alias("s_sfx"),
    )
    dist = F.levenshtein("c_sfx", "s_sfx")
    return (
        c.join(s, "blk")
        .where(dist <= 1)
        .select("c_custkey", "s_suppkey", dist.alias("dist"))
    )


_CONTAIN_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   for i in range(1, len(ws) - 1)]) AS shingles
  FROM w WHERE len(ws) >= 3
),
toks AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM toks a JOIN toks b ON a.tok = b.tok
  WHERE a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.n AS n_a,
  cast(common AS DOUBLE) / sa.n AS containment
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
WHERE common * 2 >= sa.n
"""


@query("dedup_shingle_containment", oracle=_CONTAIN_SQL)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup detection: 3-word-shingle containment
    |A∩B|/|A| ≥ ½ finds documents substantially CONTAINED in another
    (quotes, excerpts, supersets) — pairs symmetric Jaccard misses by
    construction whenever the two documents differ in length (an excerpt
    of a long doc has high containment but low Jaccard).

    Threshold is integer cross-multiplication (2·common ≥ |A| — no float
    at the decision boundary); the ratio column is display-only.

    Candidate generation uses the ASYMMETRIC prefix filter containment
    admits: A needs ≥ ⌈|A|/2⌉ of its own shingles matched, so indexing
    only A's rarest ⌊|A|/2⌋+1 shingles is lossless (pigeonhole: B misses
    at most ⌊|A|/2⌋ of A's shingles, one fewer than the prefix holds) —
    while the B side stays fully indexed (a containing superset has no
    size constraint). Rarest-first ordering means the hot stop-shingles
    that drive the quadratic postings blocks are exactly what the A-side
    drops: measured at sf0.1, naive candidates 2.26 M (512 survivors —
    0.02% precision) vs the prefix-filtered candidate set (SCALE.md).
    Verification is the row-sized _verify_common_tokens intersection
    rather than the postings groupBy, which would shuffle one row per
    (pair, shared shingle) on a near-dup-heavy corpus."""
    d = _docs_fanout(spark, sf_dir)
    w = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")).where(
        F.size("ws") >= 3
    )
    sh = w.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(ws) - 3),"
                " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
            )
        ).alias("ts"),
    )
    toks = sh.select("doc_id", F.size("ts").alias("n"), F.explode("ts").alias("tok"))
    df_ = toks.groupBy("tok").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok"))
    prefix = (
        toks.join(df_, "tok")
        .select("doc_id", "n", "tok", rk.alias("rk"))
        .filter(F.col("rk") <= F.floor(F.col("n") / 2) + 1)
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), "tok")
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    cands = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("doc_a") != F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _verify_common_tokens(cands, sh)
        .where(F.col("common") * 2 >= F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            "n_a",
            (F.col("common").cast("double") / F.col("n_a")).alias("containment"),
        )
    )


@query("dedup_lsh_recall_eval")  # rows-only: evaluates the Spark-specific LSH paths
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B recall audit of BOTH MinHash candidate generators — the
    production b×r banded index (dedup_minhash_banded) and the fenced
    ml.feature reference (dedup_minhash_ml_reference) — against exact
    ground truth: every 3-shingle-set pair with true Jaccard ≥ 0.6 (the
    integer cross-multiplied 5·common ≥ 3·(|A|+|B|−common) test — no float
    boundary) is checked for presence in each generator's candidate set.
    One row per generator: truth size, candidate size, hits, recall — the
    number that tells you whether a banded index is safe to swap in for
    the exact join at 100 TB (precision is cheap to recover by
    re-verifying candidates; RECALL loss is silent data corruption, so it
    is the audited quantity), and the A/B comparison the round-10 scale
    fence rests on (SCALE.md: equal detection, ml path dead at 500 K).
    tests/test_dedup_determinism.py pins recall ≥ 0.9 for both.

    The truth side runs on a deterministic 10% seed stratum (pairs whose
    LOWER doc id hashes into the stratum; the candidate sets under audit
    are filtered identically, the INDEXES themselves still run in full) —
    the only form an exact-truth audit can take at 100 TB, where
    all-pairs ground truth is uncomputable; recall over a random stratum
    is an unbiased estimate of corpus recall."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = _docs_fanout(spark, sf_dir).select("doc_id", "text")
    # materialize the token array before the shingle lambda: inlining the
    # regex split re-evaluates it 3× per shingle (CollapseProject keeps
    # the projection because `ws` is referenced more than once)
    toked = d.where(F.size(toks) >= 3).select("doc_id", toks.alias("ws"))
    sh = toked.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(ws) - 3),"
                " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
            )
        ).alias("shingles"),
    )
    t = sh.select("doc_id", F.explode("shingles").alias("tok"))
    # audit stratum: the truth join's LEFT side keeps only seed docs —
    # 10x fewer exact-verification pairs; membership is a pure hash of
    # doc_id so both truth and audited candidates filter identically.
    # xxhash64, not multiplicative-mod-10: 2654435761 % 10 == 1, so the
    # old ((id % 2^31) * 2654435761) % 10 collapsed to id % 10 — a
    # systematic id sample whose bias would correlate with any id-linked
    # near-dup structure (round-6 ADVICE).
    stratum = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(0x5EED)), F.lit(10)) == 0
    a = t.where(stratum).select(F.col("doc_id").alias("doc_a"), "tok")
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    # truth candidates = EVERY co-occurring pair (no prefix filter — the
    # ground truth must not share machinery with the index under audit);
    # verification is the row-sized hashed-array intersection rather than
    # counting matches through the postings groupBy
    cands = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # three counts consume truth and cand below — snapshot both once, or
    # the hit join re-executes the full truth verification AND the whole
    # MinHash pipeline a second time (measured ~2× the audit's wall time)
    truth = (
        _verify_common_tokens(cands, sh.withColumnRenamed("shingles", "ts"))
        .where(5 * F.col("common") >= 3 * (F.col("n_a") + F.col("n_b") - F.col("common")))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    in_stratum = (
        F.pmod(F.xxhash64(F.least("doc_a", "doc_b"), F.lit(0x5EED)), F.lit(10)) == 0
    )
    n_truth = truth.count()
    generators = {
        "banded": _banded_minhash_candidates_ids(
            _hashed_sets(sh.withColumnRenamed("shingles", "ts"))
        ),
        "ml_reference": _ml_minhash_candidates(spark, sf_dir),
    }
    out = []
    for gen, cand_all in generators.items():
        cand = (
            cand_all.select("doc_a", "doc_b")
            .where(in_stratum)
            .localCheckpoint(eager=True)
        )
        n_cand = cand.count()
        n_hit = truth.join(cand, ["doc_a", "doc_b"]).count()
        recall = (n_hit / n_truth) if n_truth else 1.0
        out.append((gen, n_truth, n_cand, n_hit, float(recall)))
    return local_rows_df(
        spark,
        out,
        "generator string, n_truth_pairs long, n_candidates long,"
        " n_hits long, recall double",
    )


def phonetic_block_pairs(c: DataFrame) -> DataFrame:
    """The phonetic pair finder over any (key, name) relation — the body
    of dedup_phonetic_blocking, factored so tests can feed constructed
    vocabularies (e.g. the shifted-word case 'a red gear' vs 'red gear')
    that the fixed testdata never exercises."""
    return _phonetic_block_pairs_impl(c)


def _soundex_sql(col: str) -> str:
    """American Soundex as portable SQL over expression ``col`` — the
    DuckDB twin of Spark's ``F.soundex``, fuzz-verified exact on 4 500+
    words (real part vocabulary + random strings + the classic H/W-rule
    pathologies: ashcraft→A261, tymczak→T522, pfister→P236, wwwa→W000).

    Shape notes: H/W are deleted from position 2+ BEFORE coding (the
    H/W rule — same-code letters straddling h/w collapse); the first
    letter is coded too so its code collapses with a following equal
    code; runs collapse via six per-digit regexp_replace passes because
    DuckDB's RE2 has no backreferences ('(\\d)\\1+' silently never
    matches); vowels code to 0, surviving 0s are stripped AFTER the
    collapse so vowels still separate equal codes. Spark returns the
    input unchanged when the first character is not A-Z — mirrored by
    the CASE."""
    coded = (
        f"translate(substr(upper({col}),1,1) || "
        f"regexp_replace(substr(upper({col}),2), '[HW]', '', 'g'), "
        f"'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301202')"
    )
    for d in "123456":
        coded = f"regexp_replace({coded}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"CASE WHEN NOT regexp_matches(substr(upper({col}),1,1), '[A-Z]') "
        f"THEN {col} ELSE substr(substr(upper({col}),1,1) || "
        f"regexp_replace(substr({coded},2), '0', '', 'g') || '000', 1, 4) END"
    )


_PHONETIC_SQL = f"""
WITH parts AS (SELECT p_partkey AS key, p_name AS name FROM part),
classes AS (SELECT DISTINCT name FROM parts),
wrd AS (
  SELECT name, g.i - 1 AS i, {_soundex_sql("ws[g.i]")} AS sdx
  FROM (SELECT name, string_split(name, ' ') AS ws FROM classes),
       UNNEST(generate_series(1, len(ws))) AS g(i)
),
a AS (
  SELECT name AS name_a, CAST(i + dd.d AS VARCHAR) || '-' || sdx AS code
  FROM wrd, UNNEST([-1, 0, 1]) AS dd(d)
),
b AS (
  SELECT name AS name_b, CAST(i AS VARCHAR) || '-' || sdx AS code_b FROM wrd
),
cand AS (
  SELECT name_a, name_b, min(code) AS code
  FROM a JOIN b ON a.code = b.code_b AND a.name_a < b.name_b
     AND abs(length(name_a) - length(name_b)) <= 3
  GROUP BY name_a, name_b
),
cross_names AS (
  SELECT name_a, name_b, code,
         CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
  FROM cand WHERE levenshtein(name_a, name_b) <= 3
),
same_names AS (
  SELECT name AS name_a, name AS name_b,
         '0-' || {_soundex_sql("string_split(name, ' ')[1]")} AS code,
         CAST(0 AS INTEGER) AS edit_dist
  FROM classes
),
ka AS (SELECT name AS name_a, key AS k1 FROM parts),
kb AS (SELECT name AS name_b, key AS k2 FROM parts),
cross_exp AS (
  SELECT code, least(k1, k2) AS key_a,
         CASE WHEN k1 < k2 THEN name_a ELSE name_b END AS name_a,
         greatest(k1, k2) AS key_b,
         CASE WHEN k1 < k2 THEN name_b ELSE name_a END AS name_b,
         edit_dist
  FROM cross_names JOIN ka USING (name_a) JOIN kb USING (name_b)
),
same_exp AS (
  SELECT code, k1 AS key_a, name_a, k2 AS key_b, name_b, edit_dist
  FROM same_names JOIN ka USING (name_a) JOIN kb USING (name_b)
  WHERE k1 < k2
)
SELECT * FROM cross_exp UNION ALL SELECT * FROM same_exp
"""


@query("dedup_phonetic_blocking", oracle=_PHONETIC_SQL)
def dedup_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic entity resolution: part names blocked by the SOUNDEX code
    of their head word (sound-alike words share a block), then in-block
    levenshtein ≤ 3 pairs — catches 'Smith/Smyth'-style spelling drift
    that prefix blocking (fuzzy_match_names) misses, the other standard
    blocking key in record linkage.

    Hash-verified: DuckDB has no soundex built-in, so the oracle inlines
    a portable-SQL American Soundex (``_soundex_sql``, fuzz-pinned exact
    against F.soundex) and re-derives the same fanned positioned keys,
    class join, and expansion; determinism is additionally pinned in
    tests/test_dedup_determinism.py. Blocking keys must be validated
    against the DATA:
    soundex of customer names here degenerates to ONE code (synthetic
    names differ only in digits, which soundex drops — 785 K pairs in a
    single block), and soundex of the head word ALONE has only 8 values in
    the part vocabulary, so blocks grow linearly with SF and in-block
    pairs quadratically (measured 49 s at sf0.1).

    The key scheme is MULTI-PASS blocking — each name is indexed once per
    word under a POSITIONED soundex key (position, soundex(word)), and
    ONE side of the self-join additionally fans each word out to the ±1
    neighbor positions. The guarantee: within a ≤3-edit budget at most
    one whole word can be deleted or inserted (a 1-2 letter word plus
    its space costs 2-3 edits; two such indels exceed the budget), so
    surviving words shift position by at most 1 — the fanned side's
    neighbor keys cover the shift, and any pair with at least one
    surviving word shares a block. A single fixed-position key measurably
    does not have this property: the recall audit
    (dedup_phonetic_recall_eval) scored the first-two-words pair key at
    0.26 on sf0.01, because these names routinely substitute one whole
    short word ("hot gear" → "red gear") and the combined code changes
    with it — the positioned key on the surviving word is what catches
    those. (The r4 two-word-key "49 s → 11 s speedup" was therefore
    partly bought with silent recall loss; the honest cost of the
    recovered pairs is measured in SCALE.md.) Pairs where every
    surviving word's soundex also drifted can still evade — the audited
    residual, pinned ≥ 0.95 in tests.

    Execution is CLASS-BASED: all fuzzy work happens between DISTINCT
    name values (blocked self-join + banded levenshtein over the name
    vocabulary), and verified name pairs are only then expanded to key
    pairs by joining the key table back on. Names repeat — here
    pathologically (64 distinct names over 20 K parts at sf0.1), at
    100 TB merely heavily — and verifying per KEY pair re-runs the same
    levenshtein for every cross product of a name pair's occurrences:
    measured 268 s / 25 M levenshtein calls at sf0.1 vs vocabulary² =
    4 096 calls for the identical 12.6 M-row output. The expansion is
    output-bound, which no plan can beat. Within the class join, the
    length prefilter (|len_a − len_b| ≤ 3 is necessary for edit distance
    ≤ 3) runs inside the join and Spark 4's banded
    ``levenshtein(l, r, threshold)`` early-exits past the bound. Scale
    shape: one dedup shuffle to the vocabulary, a vocabulary-sized
    blocked join, two broadcast-able expansion joins."""
    c = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"), F.col("p_name").alias("name")
    )
    return _phonetic_block_pairs_impl(c)


def _phonetic_block_pairs_impl(c: DataFrame) -> DataFrame:
    classes = c.select("name").distinct()
    words = F.split(F.col("name"), " ")
    codes = F.transform(
        words,
        lambda w, i: F.concat_ws("-", i.cast("string"), F.soundex(w)),
    )
    # a-side fans each word to positions i-1, i, i+1 (covers the ≤1
    # position shift a single short-word indel causes); b-side stays
    # single-keyed so the fan-out multiplies candidates by ~3, not ~9 —
    # the pair (x, y) collides whenever positions align within 1,
    # regardless of which name sorts first
    fanned = F.flatten(
        F.transform(
            words,
            lambda w, i: F.array(
                F.concat_ws("-", (i - 1).cast("string"), F.soundex(w)),
                F.concat_ws("-", i.cast("string"), F.soundex(w)),
                F.concat_ws("-", (i + 1).cast("string"), F.soundex(w)),
            ),
        )
    )
    a = classes.select(
        F.col("name").alias("name_a"), F.explode(fanned).alias("code")
    )
    b = classes.select(
        F.col("name").alias("name_b"), F.explode(codes).alias("code_b")
    )
    cand = (
        a.join(
            b,
            (F.col("code") == F.col("code_b"))
            & (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 3
            ),
        )
        # a true pair can collide in several blocks — verify it ONCE,
        # under its deterministic minimal code
        .groupBy("name_a", "name_b")
        .agg(F.min("code").alias("code"))
    )
    cross_names = (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b", 3))
        # thresholded levenshtein returns -1 when the bound is exceeded
        .where(F.col("edit_dist").between(0, 3))
    )
    # identical names are distance-0 pairs; their block code is the head
    # word's positioned key
    same_names = classes.select(
        F.col("name").alias("name_a"),
        F.col("name").alias("name_b"),
        F.concat_ws(
            "-", F.lit("0"), F.soundex(F.get(F.split(F.col("name"), " "), 0))
        ).alias("code"),
        F.lit(0).cast("int").alias("edit_dist"),
    )
    ka = c.select(F.col("name").alias("name_a"), F.col("key").alias("k1"))
    kb = c.select(F.col("name").alias("name_b"), F.col("key").alias("k2"))
    # cross-class: each unordered key pair appears exactly once (name_a <
    # name_b), so only canonicalize the key order; same-class: the a×b
    # self-product is filtered to k1 < k2
    cross = (
        cross_names.join(ka, "name_a")
        .join(kb, "name_b")
        .select(
            "code",
            F.least("k1", "k2").alias("key_a"),
            F.when(F.col("k1") < F.col("k2"), F.col("name_a"))
            .otherwise(F.col("name_b"))
            .alias("name_a_out"),
            F.greatest("k1", "k2").alias("key_b"),
            F.when(F.col("k1") < F.col("k2"), F.col("name_b"))
            .otherwise(F.col("name_a"))
            .alias("name_b_out"),
            "edit_dist",
        )
        .withColumnsRenamed({"name_a_out": "name_a", "name_b_out": "name_b"})
    )
    same = (
        same_names.join(ka, "name_a")
        .join(kb, "name_b")
        .where(F.col("k1") < F.col("k2"))
        .select(
            "code",
            F.col("k1").alias("key_a"),
            "name_a",
            F.col("k2").alias("key_b"),
            "name_b",
            "edit_dist",
        )
    )
    return cross.unionByName(same)


_PHONETIC_RECALL_SQL = f"""
WITH parts AS (SELECT p_partkey, p_name FROM part),
classes AS (
  SELECT p_name AS name, count(*) AS cnt, length(p_name) AS len
  FROM parts GROUP BY p_name
),
a AS (
  SELECT name AS name_a, cnt AS cnt_a, len AS len_a,
         unnest([len // 4 - 1, len // 4, len // 4 + 1]) AS band
  FROM classes
),
b AS (
  SELECT name AS name_b, cnt AS cnt_b, len AS len_b, len // 4 AS band_b
  FROM classes
),
truth_cross AS (
  SELECT name_a, name_b, cnt_a * cnt_b AS w
  FROM a JOIN b ON band = band_b AND name_a < name_b
     AND abs(len_a - len_b) <= 3
  WHERE levenshtein(name_a, name_b) <= 3
),
tc AS (SELECT coalesce(sum(w), 0) AS n FROM truth_cross),
ts AS (SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0) AS n FROM classes),
blocking AS ({_PHONETIC_SQL}),
nc AS (SELECT count(*) AS n FROM blocking),
pairs_cls AS (
  SELECT DISTINCT least(name_a, name_b) AS name_a,
                  greatest(name_a, name_b) AS name_b
  FROM blocking
),
hc AS (
  SELECT coalesce(sum(w), 0) AS n
  FROM truth_cross JOIN pairs_cls USING (name_a, name_b)
  WHERE name_a != name_b
),
hs AS (
  SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0) AS n
  FROM classes
  JOIN (SELECT name_a AS name FROM pairs_cls WHERE name_a = name_b)
    USING (name)
)
SELECT CAST(tc.n + ts.n AS BIGINT) AS n_truth_pairs,
       CAST(nc.n AS BIGINT) AS n_candidates,
       CAST(hc.n + hs.n AS BIGINT) AS n_hits,
       CASE WHEN tc.n + ts.n = 0 THEN 1.0
            ELSE CAST(hc.n + hs.n AS DOUBLE) / (tc.n + ts.n) END AS recall
FROM tc, ts, nc, hc, hs
"""


@query("dedup_phonetic_recall_eval", oracle=_PHONETIC_RECALL_SQL)
def dedup_phonetic_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the phonetic blocking key against exact ground
    truth — the mirror of dedup_lsh_recall_eval for the soundex path.
    Blocking keys trade recall for pair count, and the trade moves when
    the key changes (the two-word soundex key drops a true pair whenever
    an edit rewrites the FIRST LETTER of a kept word — soundex preserves
    the leading letter verbatim), so the loss must be a measured number,
    not an assumption. Ground truth is every levenshtein-≤3 pair computed
    WITHOUT the phonetic block.

    Both truth and hits are computed at the NAME-CLASS level and expanded
    to key-pair COUNTS by multiplicity arithmetic (cross pair → cnt_a ×
    cnt_b, same-name class → C(cnt, 2)) — never materialized: the first
    cut of this audit banded the truth join per KEY and at sf0.1 that is
    a ~400 M-row banded-levenshtein grind (names repeat pathologically —
    same lesson as the blocking query's own class rewrite). Classes make
    it vocab²-sized, the blocking side contributes one pass over its
    output, and the numbers are identical because the blocking expands
    whole classes (hits are all-or-nothing per class pair). The class
    truth join is still length-banded (|len_a − len_b| ≤ 3 ⇒ a shared
    width-4 band after 3-band emission) so a large real vocabulary stays
    off the all-pairs cliff; at 100 TB the audit runs over a fixed-size
    sample regardless. One row out: truth size, candidate size, hits,
    recall; tests/test_dedup_determinism.py pins the floor so a future
    key change cannot silently lose true pairs.

    Hash-verified since the soundex twin landed: the oracle re-derives
    BOTH sides — banded exact truth via DuckDB's levenshtein and the
    full blocking pipeline (nested as a CTE) — and the multiplicity
    arithmetic is pure int64; `recall` is one exact-int division, so the
    double is bit-identical too."""
    c = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    classes = (
        c.groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("len", F.length("name"))
    )
    a = classes.select(
        F.col("name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        F.col("len").alias("len_a"),
    ).withColumn(
        "band",
        F.explode(
            F.array(
                F.floor(F.col("len_a") / 4) - 1,
                F.floor(F.col("len_a") / 4),
                F.floor(F.col("len_a") / 4) + 1,
            )
        ),
    )
    b = classes.select(
        F.col("name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.col("len").alias("len_b"),
    ).withColumn("band_b", F.floor(F.col("len_b") / 4))
    truth_cross = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 3),
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 3))
        .where(F.col("edit_dist").between(0, 3))
        .select(
            "name_a", "name_b", (F.col("cnt_a") * F.col("cnt_b")).alias("w")
        )
        # consumed by two actions (truth sum + hit join) — snapshot once,
        # same discipline as dedup_lsh_recall_eval's audit inputs
        .localCheckpoint(eager=True)
    )
    same_w = F.expr("sum(cnt * (cnt - 1) div 2)")
    n_truth_same = classes.agg(same_w).first()[0] or 0
    n_truth_cross = truth_cross.agg(F.sum("w")).first()[0] or 0
    # the blocking output is consumed by multiple actions; snapshotting it
    # whole would materialize the (output-bound, multi-million-row)
    # expansion, which costs more than its cheap class-level plan — so
    # collapse it to the vocab²-sized class-pair table in ONE pass and
    # snapshot THAT (n_cand is the only other execution)
    out = QUERIES["dedup_phonetic_blocking"](spark, sf_dir)
    n_cand = out.count()
    pairs_cls = (
        out.select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_cross = pairs_cls.where(F.col("name_a") != F.col("name_b"))
    hits_cross = (
        truth_cross.join(cand_cross, ["name_a", "name_b"]).agg(F.sum("w")).first()[0]
        or 0
    )
    cand_same = pairs_cls.where(F.col("name_a") == F.col("name_b")).select(
        F.col("name_a").alias("name")
    )
    hits_same = classes.join(cand_same, "name").agg(same_w).first()[0] or 0
    n_truth = int(n_truth_cross + n_truth_same)
    n_hit = int(hits_cross + hits_same)
    recall = (n_hit / n_truth) if n_truth else 1.0
    return local_rows_df(
        spark,
        [(n_truth, int(n_cand), n_hit, float(recall))],
        "n_truth_pairs long, n_candidates long, n_hits long, recall double",
    )


def _hll_intersection_frame(spark: SparkSession, sf_dir: str) -> dict:
    """{'clickers','purchasers','union_est','intersection_est'} sketch
    estimates plus 'exact_*' twins — the registered query projects the
    hash-stable verdicts, pytest asserts the raw estimates here."""
    e = _t(spark, sf_dir, "events")
    sk = e.where(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    both = sk.agg(F.hll_union_agg("sk").alias("sk_union"))
    per = sk.select(
        "event_type", F.hll_sketch_estimate("sk").cast("long").alias("est")
    ).collect()
    est = {r["event_type"]: r["est"] for r in per}
    union_est = both.select(
        F.hll_sketch_estimate("sk_union").cast("long").alias("u")
    ).first()["u"]
    seg = e.where(F.col("event_type").isin("click", "purchase"))
    ex = seg.agg(
        F.countDistinct(F.when(F.col("event_type") == "click", F.col("user_id"))).alias("c"),
        F.countDistinct(F.when(F.col("event_type") == "purchase", F.col("user_id"))).alias("p"),
        F.countDistinct("user_id").alias("u"),
    ).first()
    return {
        "clickers": int(est.get("click", 0)),
        "purchasers": int(est.get("purchase", 0)),
        "union_est": int(union_est),
        "intersection_est": int(est.get("click", 0) + est.get("purchase", 0) - union_est),
        "exact_clickers": int(ex["c"]),
        "exact_purchasers": int(ex["p"]),
        "exact_union": int(ex["u"]),
        "exact_intersection": int(ex["c"] + ex["p"] - ex["u"]),
    }


_HLL_INTER_SQL = """
SELECT
  CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT)
    AS exact_clickers,
  CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT)
    AS exact_purchasers,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union,
  CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
     + count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
     - count(DISTINCT user_id) AS BIGINT) AS exact_intersection,
  TRUE AS within_bound
FROM events WHERE event_type IN ('click', 'purchase')
"""


@query("agg_hll_intersection", oracle=_HLL_INTER_SQL)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: estimated overlap of two behavioral cohorts
    (users who click vs users who purchase) by inclusion-exclusion over
    HLL sketches — |A∩B| ≈ |A| + |B| − |A∪B|, where the union is a sketch
    MERGE, never a re-scan. This is how audience-overlap questions get
    answered at 100 TB: per-segment sketches are materialized once and any
    pairwise (or k-way) overlap is driver-side sketch arithmetic.

    ERROR-BOUND ORACLE (round-10 graduation from rows-only): the hash gate
    pins the exact cohort sizes (inclusion-exclusion over exact distincts)
    plus one Spark-computed verdict: each of the three sketch estimates
    within greatest(3, 5%·exact) of its exact twin, and the derived
    intersection within the SUM of those three slacks (inclusion-exclusion
    compounds the absolute errors — a tight bound on the ratio would be a
    false contract when the overlap is small). The raw estimates stay
    asserted in tests/test_sampling.py."""
    d = _hll_intersection_frame(spark, sf_dir)

    def slack(exact: int) -> float:
        return max(3.0, 0.05 * exact)

    ok = (
        abs(d["clickers"] - d["exact_clickers"]) <= slack(d["exact_clickers"])
        and abs(d["purchasers"] - d["exact_purchasers"]) <= slack(d["exact_purchasers"])
        and abs(d["union_est"] - d["exact_union"]) <= slack(d["exact_union"])
        and abs(d["intersection_est"] - d["exact_intersection"])
        <= slack(d["exact_clickers"]) + slack(d["exact_purchasers"]) + slack(d["exact_union"])
    )
    return local_rows_df(
        spark,
        [
            (
                d["exact_clickers"],
                d["exact_purchasers"],
                d["exact_union"],
                d["exact_intersection"],
                bool(ok),
            )
        ],
        "exact_clickers long, exact_purchasers long, exact_union long, "
        "exact_intersection long, within_bound boolean",
    )


# --- semantic dedup via centroid clustering (SemDeDup) ------------------------

_N_SEM_CENTROIDS = 16
_SEM_TAU = 0.3

_SEMDEDUP_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cemb
  FROM embeddings WHERE vec_id < {_N_SEM_CENTROIDS}
),
assign AS (
  SELECT e.vec_id, c.cid, cast(e.embedding AS DOUBLE[]) AS emb,
         list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cemb) AS cos
  FROM embeddings e, c
),
best AS (
  SELECT vec_id, cid, emb,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM assign
),
member AS (SELECT vec_id, cid, emb FROM best WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM member a JOIN member b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= {_SEM_TAU}
)
SELECT m.vec_id, m.cid AS cluster_id
FROM member m
WHERE m.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@query("dedup_semantic_clustered", oracle=_SEMDEDUP_SQL)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that first ASSIGNS every embedding to its nearest
    centroid and only then compares pairs WITHIN a cluster — turning the
    all-pairs O(N²) cosine scan into O(N·K + Σ|cluster|²). Centroids here
    are the first K=16 vectors (deterministic, so the oracle agrees);
    production uses k-means centroids (``kmeans_lloyd``) with K scaling
    ∝ N so the expected cluster size — and per-task pair work — stays
    CONSTANT as the corpus grows. A member is dropped when any
    smaller-id member of its cluster sits within cosine ≥ τ (the
    smallest-id-wins survivor rule every dedup family in this repo
    uses); survivors are returned with their cluster.

    Plan: the K-row centroid table broadcasts; assignment is a map-side
    cross join + per-vector top-1 window (key = vec_id, high
    cardinality); the intra-cluster pair join is keyed on cid — skewed
    clusters at scale are split by AQE, and K∝N keeps them bounded by
    design. Cosine is computed by the same fold probed bit-identical to
    DuckDB's list_cosine_similarity (cosine_expr above)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl(F.col("embedding")).alias("emb")
    )
    cents = e.filter(F.col("vec_id") < _N_SEM_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb")
    )
    assign = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", "emb", cosine_expr(F.col("emb"), F.col("cemb")).alias("cos")
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    member = (
        assign.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "emb")
    )
    a = member.select(
        F.col("cid"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
    )
    b = member.select(
        F.col("cid"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
    )
    dropped = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cosine_expr(F.col("emb_a"), F.col("emb_b")) >= _SEM_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return member.join(dropped, "vec_id", "left_anti").select(
        "vec_id", F.col("cid").alias("cluster_id")
    )


def _build_cluster_hist_sql() -> str:
    from vat_etl_spark.queries import ORACLE_SQL

    cc = ORACLE_SQL["dedup_connected_components"]
    return f"""
WITH cc AS (SELECT doc_id, component FROM ({cc}) t),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz FROM cc GROUP BY component)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN sz > 1 THEN (sz - 1) * count(*) ELSE 0 END AS BIGINT)
         AS docs_removable
FROM sizes GROUP BY sz
"""


_CLUSTER_HIST_SQL = _build_cluster_hist_sql()


@query("dedup_cluster_size_histogram", oracle=_CLUSTER_HIST_SQL)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE distribution over the connected components —
    the number that prices a dedup run before anyone launches it: per
    cluster size, how many clusters, how many documents they hold, and
    how many of those a keep-one policy deletes (``docs_removable`` sums
    to exactly the corpus shrinkage). At 100 TB this histogram is what
    decides whether fuzzy dedup is worth the shuffle — a heavy tail
    (few huge boilerplate clusters) means most of the win comes from a
    handful of components. Two aggregates over the component labels; the
    CC subplan is the registered oracle-backed query, so the histogram's
    oracle composes its recursive-CTE text as a subquery."""
    cc = QUERIES["dedup_connected_components"](spark, sf_dir).select(
        "doc_id", "component"
    )
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.first("sz") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        F.when(
            F.first("sz") > 1, (F.first("sz") - 1) * F.count(F.lit(1))
        ).otherwise(0).cast("long").alias("docs_removable"),
    )
