"""Training-data pipeline operators (north-star extension, SURVEY.md §2.9):
benchmark-contamination detection, Gopher-style quality rules, intra-document
repetition, token-budget sequence packing, weighted domain mixing, and
cross-source dedup with survivor priority. All native expressions — the hot
paths are map-only or a single keyed shuffle, so every operator here scales
to a 100 TB corpus. These compose with `pipeline_training_set` (text.py):
contamination/quality/repetition are row filters, packing/mixing are the
write-side layout.

Public-knowledge provenance: duplicate-n-gram and word-statistics quality
rules follow Rae et al. 2021 (Gopher, arXiv:2112.11446 §A1.1); n-gram
decontamination follows Brown et al. 2020 (GPT-3, arXiv:2005.14165 §C).
Thresholds and n-gram sizes here are sized for the synthetic corpus (docs
are 10-99 whitespace tokens) so every rule actually splits the data —
production values (13-grams, 50-100k word bounds) are parameters.
"""

from __future__ import annotations

import heapq
import logging
import threading as _threading
import time as _time
from collections.abc import Callable
from types import SimpleNamespace
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.localrel import local_rows_df
from vat_etl_spark.queries import QUERIES, query
from vat_etl_spark.queries.text import STOPWORDS, tokens_expr
from vat_etl_spark.sources.catalog import hadoop_path, read_index, read_table as _t

_LOG = logging.getLogger(__name__)

_NTOK_SQL = r"len(regexp_split_to_array(trim(text), '\s+'))"

# Shared background pool for build_corpus's overlapped Spark jobs
# (guide §2.6). Module-level and reused on purpose (ADVICE-r14): under
# py4j pinned-thread mode (the Spark 4 default) a per-build
# ThreadPoolExecutor neither inherits the caller's job tags nor reliably
# reclaims its JVM peer threads at teardown, so repeated builds in one
# session accumulate JVM threads. Two workers: enough to back-fill the
# sequential funnel's idle executors, not enough to fight them.
_BG_POOL = None
_BG_POOL_LOCK = _threading.Lock()


def _bg_pool():
    global _BG_POOL
    from concurrent.futures import ThreadPoolExecutor

    with _BG_POOL_LOCK:
        if _BG_POOL is None:
            _BG_POOL = ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="corpus_bg"
            )
    return _BG_POOL


def _ngrams(toks, n: int):
    """Contiguous word n-grams as a native array expression (no UDF):
    transform over 1..len-n+1 of space-joined slices. Guarded for short
    docs — Spark's ``sequence(1, k)`` with k < 1 generates a DESCENDING
    sequence rather than an empty one."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _ngrams_sql(n: int) -> str:
    """DuckDB twin of :func:`_ngrams` over alias ``t`` (token list)."""
    return (
        f"list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
    )


# --- benchmark contamination (n-gram overlap vs a held-out eval set) ----------

_CONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
),
ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
tr AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
SELECT tr.doc_id, count(*) AS shared_3grams
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
"""


@query("pipeline_contamination_ngram", oracle=_CONTAMINATION_SQL)
def pipeline_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with a held-out eval set (here: ``doc_id % 97 == 0`` stands in
    for the benchmark; 3-grams sized to the synthetic corpus — GPT-3 used
    13-grams, same plan shape). Scale: the eval side is distinct-gram
    deduped and tiny relative to the corpus → broadcast hash join against
    the exploded training grams (map-side, no shuffle of the corpus); the
    only shuffle is the per-doc count aggregate. At 100 TB the corpus side
    stays exploded-but-streaming; eval grams for a benchmark suite are
    ~10^6 rows — comfortably broadcastable.

    The token array is materialized in its own projection BEFORE the gram
    lambda: inlining the regex split into the lambda re-evaluates it once
    per gram (~50× per doc — measured 5.6× slower end-to-end); with the
    alias referenced more than once, CollapseProject keeps the projection
    and the split runs once per document."""
    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    # per-doc array_distinct BEFORE exploding: the per-doc gram dedup the
    # count needs becomes map-side, so the corpus side never shuffles a
    # (doc_id, gram) distinct — only the tiny eval-gram distinct and the
    # final per-doc count exchange remain
    grams = toked.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("t"), 3))).alias("g"),
    )
    ev = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select("g")
        .distinct()
    )
    tr = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_3grams"))
    )


_CONTAINMENT_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
),
ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0),
per_doc AS (
  SELECT tr.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS shared
  FROM tr LEFT JOIN ev ON tr.g = ev.g
  GROUP BY tr.doc_id
)
SELECT doc_id, n_grams, shared,
       1000 * shared // n_grams AS containment_per_mille,
       CASE WHEN 1000 * shared // n_grams >= 500 THEN true ELSE false END AS drop_doc
FROM per_doc
"""


@query("pipeline_contamination_containment", oracle=_CONTAINMENT_SQL)
def pipeline_contamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-grade fuzzy decontamination: per training document, the
    CONTAINMENT of its distinct 3-gram set in the eval set — shared/total
    as an integer per-mille — plus the drop decision at the 50% threshold.
    `pipeline_contamination_ngram` reports raw overlap counts (any-hit
    flagging, the GPT-3 recipe); containment is the graded form
    (Dirt-simple fuzzy matching: a doc 90% covered by eval grams is a
    paraphrased leak even when no single long n-gram matches), the same
    asymmetric-containment idea `dedup_shingle_containment` applies
    doc-to-doc, here doc-to-benchmark.

    Exactness: score is integer floor-division per-mille (no float
    ratio); the LEFT join + conditional count keeps docs with zero
    overlap in the report (they are the evidence of cleanliness). Scale:
    identical to the exact twin — distinct per-doc grams map-side, eval
    grams broadcast, one per-doc count shuffle; the decision threshold is
    a literal."""
    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    grams = toked.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("t"), 3))).alias("g"),
    )
    ev = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    tr = grams.filter(F.col("doc_id") % 97 != 0)
    per_doc = (
        tr.join(F.broadcast(ev.withColumn("hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("shared"),
        )
    )
    per_mille = F.expr("1000 * shared div n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "shared",
        per_mille.alias("containment_per_mille"),
        (per_mille >= 500).alias("drop_doc"),
    )


# --- Gopher-style quality rules ----------------------------------------------

_STOP_IN_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

_GOPHER_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t, text
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(t) AS n_words,
         len(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(t) AS mean_word_len,
         len(list_filter(t, x -> x IN {_STOP_IN_SQL})) * 1.0 / len(t) AS stopword_frac
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, stopword_frac,
       (n_words BETWEEN 25 AND 80) AS word_count_ok,
       (mean_word_len BETWEEN 4.0 AND 5.0) AS word_len_ok,
       (stopword_frac >= 0.02) AS stopword_ok,
       ((n_words BETWEEN 25 AND 80) AND (mean_word_len BETWEEN 4.0 AND 5.0)
        AND (stopword_frac >= 0.02)) AS passes
FROM feat
"""


def quality_flags(documents: DataFrame) -> DataFrame:
    """The Gopher rule gate as a shared batch/stream builder: stateless
    map-only expressions, so the SAME function applies to a static
    DataFrame or a ``readStream`` of arriving documents (continuous-ingest
    quality filtering — stream==batch equivalence pinned in
    tests/test_streaming.py)."""
    toks = tokens_expr(F.col("text"))
    n_words = F.size(toks)
    mean_wl = F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_words
    stop_frac = (
        F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))) / n_words
    )
    base = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_frac.alias("stopword_frac"),
    )
    wc_ok = F.col("n_words").between(25, 80)
    wl_ok = F.col("mean_word_len").between(4.0, 5.0)
    st_ok = F.col("stopword_frac") >= 0.02
    return base.select(
        "*",
        wc_ok.alias("word_count_ok"),
        wl_ok.alias("word_len_ok"),
        st_ok.alias("stopword_ok"),
        (wc_ok & wl_ok & st_ok).alias("passes"),
    )


@query("pipeline_quality_gopher", oracle=_GOPHER_SQL)
def pipeline_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021 §A1.1) rule-based quality gate: word
    count bounds, mean word length bounds, stopword-fraction floor, plus
    the conjunction. Map-only — zero shuffles at any scale; every feature
    is a native expression (no tokenizer UDF). Fractions are int/int double
    divisions, bit-identical across engines. Thresholds chosen to split
    this corpus (tokens 10-99, mean word len 3.7-5.3, stop frac 0-0.22).
    Built by :func:`quality_flags`, which applies unchanged to a document
    stream."""
    return quality_flags(_t(spark, sf_dir, "documents"))


# --- intra-document repetition (duplicate n-gram fraction) --------------------

_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, {_ngrams_sql(3)} AS g3 FROM toks
)
SELECT doc_id,
       len(g3) AS total_3grams,
       len(list_distinct(g3)) AS distinct_3grams,
       CASE WHEN len(g3) > 0
            THEN (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3)
            ELSE 0.0 END AS dup_3gram_frac
FROM g
"""


@query("text_repetition_ngram", oracle=_REPETITION_SQL)
def text_repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-3-gram fraction per document (the Gopher repetition
    signal: boilerplate and crawler loops repeat n-grams). Map-only and
    explode-free — the gram array, its distinct form, and the fraction are
    all computed inside one projection, so at 100 TB this is a pure scan
    with zero shuffles and no per-gram row blowup. Tokens are materialized
    in a separate projection so the regex split runs once per doc, not
    once per gram (same rationale as pipeline_contamination_ngram)."""
    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    g = toked.select("doc_id", _ngrams(F.col("t"), 3).alias("g3"))
    total = F.size("g3")
    distinct = F.size(F.array_distinct("g3"))
    return g.select(
        "doc_id",
        total.cast("long").alias("total_3grams"),
        distinct.cast("long").alias("distinct_3grams"),
        F.when(total > 0, (total - distinct) / total)
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
    )


# --- token-budget sequence packing -------------------------------------------

_PACK_BUDGET = 1024

# Packing shard count: the window/group key is (lang, shard), never bare
# lang — a handful of languages is a degenerate partition key at scale
# (one task would receive an entire language's token stream). The shard is
# the same engine-portable multiplicative hash used by the split/mix
# operators, so the DuckDB oracle replays the identical assignment. At
# 100 TB this is a config (shards sized so a shard's token stream fits an
# executor); 4 keeps testdata groups non-trivial.
_N_PACK_SHARDS = 4

_PACKING_SQL = f"""
WITH sized AS (
  SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % {_N_PACK_SHARDS} AS shard
  FROM documents
),
runs AS (
  SELECT doc_id, lang, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sized
)
SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(FLOOR(cum_before / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id,
       CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM runs
"""


@query("pipeline_seq_packing", oracle=_PACKING_SQL)
def pipeline_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget sequence packing: docs are concatenated
    in doc_id order within each (lang, shard) partition and cut into
    {budget}-token training sequences (seq_id) with the doc's start offset
    in its sequence. The window key is (lang, shard) — shard is a
    deterministic hash bucket of doc_id — so partition size is bounded by
    the shard count, not by a language's share of the corpus: sequences
    stay deterministic within shards and shards pack independently and in
    parallel. One window shuffle on the composite key. Greedy running-sum
    packing (vs bin-packing) is the standard streaming-friendly choice —
    each doc's placement depends only on the intra-shard prefix sum."""
    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % _N_PACK_SHARDS)
        .cast("long")
        .alias("shard"),
    )
    w = (
        W.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    runs = sized.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return runs.select(
        "doc_id", "lang", "shard", "n_tokens",
        F.floor(F.col("cum_before") / _PACK_BUDGET).cast("long").alias("seq_id"),
        (F.col("cum_before") % _PACK_BUDGET).cast("long").alias("seq_offset"),
    )


# --- weighted domain mixing ---------------------------------------------------

_MIX_WEIGHTS = {"en": 0.5, "fr": 0.8, "de": 1.0, "es": 0.6, "zh": 0.9}

_MIX_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items()
) + " ELSE 0.0 END"

_DOMAIN_MIX_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 1000 AS bucket,
         CAST(round(({_MIX_CASE_SQL}) * 1000) AS BIGINT) AS keep_per_mille
  FROM documents
)
SELECT lang, keep_per_mille,
       count(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < keep_per_mille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket < keep_per_mille THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM keyed GROUP BY lang, keep_per_mille
"""


@query("pipeline_domain_mix", oracle=_DOMAIN_MIX_SQL)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: each language gets a target sampling weight
    and documents are kept by a DETERMINISTIC per-doc coin — Knuth
    multiplicative hash of doc_id into a per-mille bucket — so the sample
    is reproducible run-to-run and engine-to-engine (no rand()). The keep
    threshold is computed ONCE as an integer per-mille (round(w*1000))
    and that same integer drives both the kept predicate and the report
    column — comparing the bucket against the raw double (0.8*1000 =
    800.0000000000001) would keep one extra per-mille while reporting
    800. Output is the per-domain mix report (kept counts + token
    budget). Map-side Bernoulli selection + one tiny aggregate; at 100 TB
    the selection fuses into the scan and the report aggregate shuffles 5
    rows.

    Every coin here folds doc_id to 31 bits BEFORE the multiply
    (``(doc_id % 2^31) * prime``, product < 2^63): the unmasked product
    overflows int64 for doc_id above ~3.5e9, where non-ANSI Spark wraps
    to a negative bucket (which always passes ``bucket < rate`` — every
    such doc silently kept) while DuckDB raises — exactly the 100 TB
    regime. Assumes non-negative doc_id (the corpus-ingest contract)."""
    d = _t(spark, sf_dir, "documents")
    weight = F.element_at(
        F.create_map(*[F.lit(x) for kv in _MIX_WEIGHTS.items() for x in kv]),
        F.col("lang"),
    )
    keyed = d.select(
        "doc_id", "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % 1000).alias("bucket"),
        F.round(F.coalesce(weight, F.lit(0.0)) * 1000)
        .cast("long")
        .alias("keep_per_mille"),
    )
    kept = F.col("bucket") < F.col("keep_per_mille")
    return (
        keyed.groupBy("lang", "keep_per_mille")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
        )
    )


# --- cross-source dedup with survivor priority --------------------------------

_XSOURCE_SQL = r"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER), 2147483647) AS src_prio,
         array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2), ' ') AS content_key
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY content_key ORDER BY src_prio, doc_id) AS rn,
         count(*) OVER (PARTITION BY content_key) AS group_size
  FROM keyed
)
SELECT doc_id, lang, source, content_key, CAST(group_size AS BIGINT) AS group_size
FROM ranked WHERE rn = 1
"""


@query("pipeline_cross_source_dedup", oracle=_XSOURCE_SQL)
def pipeline_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with survivor priority: when the same content
    arrives from multiple feeds, keep the copy from the most trusted
    source (lowest source number), tie-broken by doc_id — the multi-source
    ingestion dedup every corpus build needs. The content key here is the
    2-token prefix (this corpus has no exact duplicates; production uses
    the md5 fingerprint from pipeline_training_set — identical plan). One
    window shuffle on the content key; survivor choice is rank-1 within
    group, fully deterministic."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "lang", "source",
        # digits-suffix priority, TRY-cast (round-11: the 500 K fuzzy-corpus
        # funnel run found this — 'shardN' sources made the old
        # substring(4).cast('int') throw under ANSI; unknown formats now
        # sort LAST in both engines instead of erroring/NULL-ordering)
        F.coalesce(
            F.expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as int)"),
            F.lit(2147483647),
        ).alias("src_prio"),
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)).alias(
            "content_key"
        ),
    )
    w = W.partitionBy("content_key").orderBy("src_prio", "doc_id")
    ranked = keyed.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("content_key")).alias("group_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id", "lang", "source", "content_key",
        F.col("group_size").cast("long").alias("group_size"),
    )


# --- perplexity-proxy rarity scoring (log-free, integer-exact) ----------------

_RARITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
),
freq AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
scored AS (
  SELECT t.doc_id, 1000000 // (f.c + 1) AS pts
  FROM toks t JOIN freq f USING (word)
)
SELECT doc_id, CAST(sum(pts) AS BIGINT) AS rarity_sum,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(pts) // count(*) AS BIGINT) AS rarity_mean
FROM scored GROUP BY doc_id
"""


@query("text_rarity_score", oracle=_RARITY_SQL)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal without a language model: each
    token scores ``1e6 div (corpus_count + 1)`` (rare words → high points,
    the integer-division analogue of inverse unigram probability — CCNet
    filters on LM perplexity; this is the log-free, bit-exact stand-in).
    Deliberately integer-only: log/float scoring would hash-flake across
    engines and accumulation orders. Three shuffles: the corpus-frequency
    aggregate, the token⋈vocab join, and the per-doc sum. The vocab side
    carries NO broadcast hint on purpose: a web-scale whitespace vocab
    (typos, URLs, numbers) is unbounded — realistically 10^8+ entries at
    100 TB — so forcing a broadcast is a driver/executor OOM; AQE picks
    broadcast when the measured vocab is actually small and falls back to
    a shuffle join (with skew-join splitting for stopword keys, asserted
    in tests/test_sources.py) when it is not."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("word")
    )
    freq = toks.groupBy("word").agg(F.count("*").alias("c"))
    scored = toks.join(freq, "word").select(
        "doc_id", F.expr("1000000 div (c + 1)").alias("pts")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("pts").alias("rarity_sum"),
        F.count("*").alias("n_tokens"),
        F.expr("sum(pts) div count(*)").alias("rarity_mean"),
    )


# --- dataset card (per-domain report of the composed pipeline) ----------------

_DATASET_CARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
feat AS (
  SELECT doc_id, lang, source, len(t) AS n_tokens,
         (len(t) BETWEEN 25 AND 80
          AND (len(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(t)) BETWEEN 4.0 AND 5.0
          AND (len(list_filter(t, x -> x IN {_STOP_IN_SQL})) * 1.0 / len(t)) >= 0.02) AS q_ok,
         array_to_string(list_slice(t, 1, 2), ' ') AS content_key,
         COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER), 2147483647) AS src_prio
  FROM toks
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY content_key ORDER BY src_prio, doc_id) AS rn
  FROM feat
)
SELECT lang,
       count(*) AS docs_in,
       CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS docs_quality,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_dedup,
       CAST(sum(CASE WHEN q_ok AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_final,
       CAST(sum(CASE WHEN q_ok AND rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
FROM ranked GROUP BY lang
"""


@query("pipeline_dataset_card", oracle=_DATASET_CARD_SQL)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-language funnel counts through the composed
    pipeline — raw docs → Gopher quality gate → cross-source dedup
    survivors → final kept docs and their token budget. ONE lazy plan over
    one scan: the quality flags are map-side, the dedup rank is the single
    content-key window, and the report is a 5-row aggregate. This is the
    artifact a corpus release ships (and the judge of whether a filter
    change starved a language). At 100 TB: identical plan; the window key
    becomes the md5 fingerprint."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n_tokens = F.size(toks)
    mean_wl = F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tokens
    stop_frac = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))) / n_tokens
    q_ok = (
        n_tokens.between(25, 80)
        & mean_wl.between(4.0, 5.0)
        & (stop_frac >= 0.02)
    )
    feat = d.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        q_ok.alias("q_ok"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("content_key"),
        # digits-suffix priority, TRY-cast (round-11: the 500 K fuzzy-corpus
        # funnel run found this — 'shardN' sources made the old
        # substring(4).cast('int') throw under ANSI; unknown formats now
        # sort LAST in both engines instead of erroring/NULL-ordering)
        F.coalesce(
            F.expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as int)"),
            F.lit(2147483647),
        ).alias("src_prio"),
    )
    w = W.partitionBy("content_key").orderBy("src_prio", "doc_id")
    ranked = feat.withColumn("rn", F.row_number().over(w))
    keep = F.col("q_ok") & (F.col("rn") == 1)
    return ranked.groupBy("lang").agg(
        F.count("*").alias("docs_in"),
        F.sum(F.col("q_ok").cast("long")).alias("docs_quality"),
        F.sum((F.col("rn") == 1).cast("long")).alias("docs_dedup"),
        F.sum(keep.cast("long")).alias("docs_final"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias("tokens_final"),
    )


# --- deterministic stratified train/val/test split ----------------------------

_SPLIT_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 100 AS bucket
  FROM documents
),
tagged AS (
  SELECT *, CASE WHEN bucket < 90 THEN 'train'
                 WHEN bucket < 95 THEN 'val'
                 ELSE 'test' END AS split
  FROM keyed
)
SELECT lang, split, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM tagged GROUP BY lang, split
"""


@query("pipeline_train_val_split", oracle=_SPLIT_SQL)
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment: the split is a pure
    function of doc_id (multiplicative-hash per-cent bucket), so it is
    stable across runs, engines, partitionings, and re-ingests — the
    property a training pipeline needs so eval rows can NEVER drift into
    train between builds. No rand(), no sampleBy. Map-side tag + one tiny
    report aggregate; at 100 TB the tag fuses into the scan and writers
    partitionBy(split)."""
    d = _t(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id", "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % 100).alias("bucket"),
    ).withColumn(
        "split",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test"),
    )
    return tagged.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- deterministic fixed-size per-group sample --------------------------------

_RESERVOIR_SQL = """
WITH hashed AS (
  SELECT doc_id, lang, source,
         ((doc_id % 2147483648) * 2654435761) % 2147483647 AS h
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
  FROM hashed
)
SELECT lang, doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 20
"""


@query("sample_fixed_per_group", oracle=_RESERVOIR_SQL)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (k=20 docs per language) — the
    distributed, deterministic equivalent of per-group reservoir sampling:
    rank by a multiplicative hash of the key and keep the k smallest.
    Hash order is uniform-ish but REPRODUCIBLE (same sample every run /
    engine / partition count, unlike rand()-based reservoirs), which is
    what eval-set carving and debugging demand.

    Executed as a TWO-STAGE top-k so the group key is never the bare
    (low-cardinality) lang: stage 1 takes the k smallest within each
    (lang, shard) hash bucket — bounding the final window's input to
    shards × k rows per language — and stage 2 takes the k smallest of
    those survivors per lang. Because every global top-k row is also in
    its own shard's top-k, the result is IDENTICAL to the single-window
    plan (the oracle keeps the global formulation), but no task ever
    sees more than one shard's slice of a language."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "lang", "source",
        (((F.col("doc_id") % 2147483648) * 2654435761) % 2147483647).alias("h"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % _N_PACK_SHARDS).alias("shard"),
    )
    w_partial = W.partitionBy("lang", "shard").orderBy("h", "doc_id")
    survivors = (
        hashed.withColumn("prk", F.row_number().over(w_partial))
        .filter(F.col("prk") <= 20)
        .drop("prk", "shard")
    )
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


class _Stage(NamedTuple):
    """One funnel stage: ``plan(build, frame)`` maps the running frame to
    the next one. A ``raw`` plan instead maps the RAW input to a doc_id
    keep set; a ``base`` stage runs exactly when the build is incremental."""

    name: str
    plan: Callable[[SimpleNamespace, DataFrame], DataFrame]
    raw: bool = False
    base: bool = False


def _keep(cur: DataFrame, keep: DataFrame) -> DataFrame:
    return cur.join(keep.select("doc_id"), "doc_id")


def _rewrite(cur: DataFrame, cleaned: DataFrame) -> DataFrame:
    """A rewrite stage's tail: the stage's ``cleaned_text`` replaces the
    text, and docs it emptied leave the funnel."""
    return (
        cur.drop("text")
        .join(cleaned.select("doc_id", F.col("cleaned_text").alias("text")), "doc_id")
        .where(F.trim(F.col("text")) != "")
    )


def _perplexity_keep(b: SimpleNamespace, d: DataFrame) -> DataFrame:
    # lm_dir = CCNet's actual shape: the LM and its
    # bucket thresholds were estimated ONCE from a reference corpus
    # (kn_write_lm) — this build only SCORES against the persisted
    # tables: three keyed joins + a broadcast threshold CASE, no
    # per-build LM re-estimation. Self-LM fallback: the LM's reference
    # distribution is the FULL input corpus by definition, re-derived
    # this build via the registered oracle-backed bucket assignment.
    if b.lm_dir:
        return kn_ppl_kept_fixed(b.spark, d, kn_load_lm(b.spark, b.lm_dir))
    return QUERIES["pipeline_perplexity_buckets"](b.spark, b.sf_dir).filter(
        F.col("kept")
    )


def _base_dedup(b: SimpleNamespace, cur: DataFrame) -> DataFrame:
    # cross-build exact dedup: drop docs whose FINAL content key is
    # already in the base corpus (same key expression the base's shards
    # carry, so the anti-join is key-exact across epochs)
    base_keys = (
        b.spark.read.parquet(f"{b.base_dir}/shards").select("content_key").distinct()
    )
    keyed = cur.withColumn(
        "content_key", F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2))
    )
    return keyed.join(base_keys, "content_key", "left_anti").drop("content_key")


def _neardup(b: SimpleNamespace, cur: DataFrame) -> DataFrame:
    # keep-first within the surviving corpus; an incremental build also
    # rejects arrivals near the BASE corpus via its persisted signature
    # index — exactly the streaming gate's protocol. A base built with a
    # --stages subset excluding 'neardup' never wrote that index: chain
    # without one. read_index's try-read rule: only a missing path means
    # "no index"; a present but unreadable or empty one raises, since
    # swallowing it would silently disable base near-dup gating. The base
    # signatures stay on the build: the written index is base ∪ new.
    from vat_etl_spark.queries.dedup import neardup_admit_plan

    if b.base_dir:
        b.base_sigs = read_index(
            b.spark, f"{b.base_dir}/neardup_sig_index", _NEARDUP_SIG_INDEX
        )
        if b.base_sigs is None:
            _LOG.warning(
                "incremental build_corpus: base %s has no neardup_sig_index "
                "(built with a --stages subset?) — chaining WITHOUT base "
                "near-dup signatures; new docs are only near-dup-gated "
                "against each other",
                b.base_dir,
            )
    return neardup_admit_plan(cur, b.base_sigs)


# the full curation funnel, in pipeline order
_FUNNEL = (
    # rule-based quality gate (map-only)
    _Stage("gopher", lambda b, cur: _keep(cur, quality_flags(cur).filter(F.col("passes")))),
    # fastText-style hashed linear classifier (map-only)
    _Stage("classifier", lambda b, cur: _keep(
        cur, classifier_label_plan(cur).filter(F.col("label") == "keep"))),
    # CCNet head/middle kept, tail dropped (LM corpus-grain)
    _Stage("perplexity", _perplexity_keep, raw=True),
    # cross-source exact dedup, trusted-source survivor
    _Stage("exact_dedup", lambda b, d: QUERIES["pipeline_cross_source_dedup"](
        b.spark, b.sf_dir), raw=True),
    # C4 keep-first global line dedup
    _Stage("line_dedup", lambda b, cur: _rewrite(cur, reassemble_lines(line_dedup_plan(cur)))),
    # Lee-et-al repeated-span excision
    _Stage("span_removal", lambda b, cur: _rewrite(cur, span_removal_plan(cur))),
    _Stage("base_dedup", _base_dedup, base=True),
    # SimHash banded keep-first near-dup admission
    _Stage("neardup", _neardup),
)

# the stages a caller may select (pass a subset to build a lighter corpus
# — e.g. skip the rewrite stages for a quick refresh build)
CORPUS_STAGES = tuple(s.name for s in _FUNNEL if not s.base)

# build_corpus's persisted near-dup state: the admitted docs' SimHashes
_NEARDUP_SIG_INDEX = "simhash long"


def build_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 8,
    stages: tuple[str, ...] = CORPUS_STAGES,
    base_dir: str | None = None,
    lm_dir: str | None = None,
) -> dict:
    """The composed corpus build (the `corpus` CLI subcommand): the FULL
    curation funnel (``_FUNNEL``: Gopher rules → quality classifier →
    perplexity buckets → exact cross-source dedup → C4 line dedup →
    repeated-span removal → SimHash near-dup admission), then the
    CONTENT-KEY leakage-safe train/val/test tag (``with_content_split``:
    near-identical docs share the content key, so they can never straddle
    train/eval; the doc_id-hash tag the early builds used is NOT safe once
    near-dup stages enter the funnel) and shard assignment, written
    ``partitionBy(split, shard)``.

    Stage protocol. ``stages`` selects table entries; they run in table
    order. Every stage boundary, the raw input included, is an eager
    ``localCheckpoint`` of the stage's plan with an ``Observation`` funnel
    counter (docs + chars surviving) riding it, and its materialization
    wall is ``stage_walls[name]``. The rewrite stages and the SimHash gate
    fan their input out into self-joins, so the checkpointed boundary both
    populates the Observation exactly once and stops the upstream funnel
    re-executing per branch. A ``raw`` stage's keep set depends only on
    the raw input, so it is computed on the background pool from the
    start of the build (wall ``<name>_prefetch``) and joined in at its
    boundary; the dataset card is prefetched the same way. Every pool job
    carries the caller's job group, and a build joins all of its pool
    work before it returns or raises. At 100 TB the localCheckpoint
    becomes a staged parquet write to reliable storage (exactly how
    production corpus builds checkpoint between funnel passes —
    executor-local blocks are a single-box device); every stage's internal
    plan is key-partitioned or map-only — nothing here broadcasts
    corpus-derived data.

    Returns the per-stage funnel counts plus the write metrics; persists
    the funnel, the per-language dataset card, and per-(lang, split)
    written stats alongside the shards as the release record.

    Incremental (nightly-delta) mode: with ``base_dir`` = a previous
    build's out dir, the new feed is additionally gated against the base
    corpus — an anti-join on the base's written content keys (stage
    ``base_dedup``, on the FINAL text, the same key the base's shards
    carry) and the base's persisted ``neardup_sig_index`` as the SimHash
    gate's existing-signature side (exactly the streaming gate's
    protocol). The written ``neardup_sig_index`` is then base ∪ new, so
    builds chain. Split tags are a pure function of the content key, so a
    doc's split can never change across epochs — cross-build
    leakage-safety for free."""
    from concurrent.futures import wait

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    # the base artifacts are read LAZILY while out_dir is being
    # overwritten — in-place incremental would corrupt its own input.
    # Compared qualified, so `/x` and `file:///x` are one directory.
    if base_dir and str(hadoop_path(spark, base_dir)[1]) == str(
        hadoop_path(spark, out_dir)[1]
    ):
        raise ValueError(
            "incremental build must write to a NEW out_dir "
            "(base_dir == out_dir would overwrite the index it reads)"
        )
    b = SimpleNamespace(
        spark=spark, sf_dir=sf_dir, lm_dir=lm_dir, base_dir=base_dir, base_sigs=None
    )
    run = [s for s in _FUNNEL if (bool(base_dir) if s.base else s.name in stages)]
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    funnel: list[tuple[str, int, int]] = []
    walls: dict[str, float] = {}
    pool, futs = _bg_pool(), []

    def timed(key: str, fn):
        # wall of one step — makes a funnel regression attributable to a
        # stage instead of one opaque end-to-end number
        t0 = _time.perf_counter()
        out = fn()
        walls[key] = round(_time.perf_counter() - t0, 2)
        return out

    def submit(fn, *a):
        # under pinned-thread mode (the default) a pool thread does not
        # inherit the caller's local properties, so the job group is
        # carried over; with pinning off PySpark returns the session as is
        wrap = inheritable_thread_target(spark)
        f = pool.submit(fn if wrap is spark else wrap(fn), *a)
        futs.append(f)
        return f

    def checkpointed(key: str, plan):
        # LOCALCHECKPOINT, not persist (measured): the eager
        # checkpoint materializes the boundary AND physically truncates
        # the lineage, so every downstream job starts from the
        # checkpointed blocks. The old persist() chain nested each
        # stage's full plan inside the next, and past ~5 stages
        # downstream jobs stopped matching the cache and silently
        # recomputed the WHOLE funnel from parquet — measured at sf0.1:
        # the post-funnel sig-index/shard writes cost 12-15 s each over
        # 121 rows; with the lineage cut they are sub-second.
        return timed(key, lambda: plan().localCheckpoint(eager=True))

    def stage(name: str, df: DataFrame) -> DataFrame:
        obs = Observation(f"corpus_{name}")
        out = checkpointed(name, lambda: df.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("text").cast("long")).alias("chars"),
        ))
        m = {k: int(v or 0) for k, v in obs.get.items()}
        funnel.append((name, m["docs"], m["chars"]))
        return out

    # review finding (r14): without try/finally an exception between
    # prefetch submission and consumption leaked running pool threads
    # and their eager checkpoint blocks. ADVICE-r14: the error path must
    # also JOIN in-flight background writes (not abandon them mid-write
    # mutating out_dir after the build raised) and surface their errors.
    built = False
    try:
        # Overlap independent jobs (guide §2.6): the raw keep sets and the
        # dataset card back-fill executor capacity the tiny sequential
        # funnel stages leave idle. The SAME frames join in at the SAME
        # boundaries, so funnel membership, counts and outputs are
        # bit-identical; only the wall moves (measured: self-LM build
        # 16.0 -> 6.5 s at sf0.1, OPTIMIZATION_r14.md).
        keep = {
            s.name: submit(checkpointed, f"{s.name}_prefetch",
                           lambda s=s: s.plan(b, d).select("doc_id"))
            for s in run if s.raw
        }
        card = submit(checkpointed, "dataset_card_prefetch",
                      lambda: QUERIES["pipeline_dataset_card"](spark, sf_dir))
        cur = stage("raw", d)
        for s in run:
            cur = stage(s.name, _keep(cur, keep[s.name].result()) if s.raw
                        else s.plan(b, cur))
        if "simhash" in cur.columns:
            # persist the admitted signatures as the corpus's near-dup
            # index — the exact `existing_sigs` input of the streaming
            # admission gate (streaming/corpus.py) and of the next
            # incremental build (base ∪ new), so batch-built corpora and
            # continuous ingest share one gate state. Nothing downstream
            # reads it back, so it is written on the pool.
            sigs = cur.select("simhash").distinct()
            if b.base_sigs is not None:
                sigs = sigs.union(b.base_sigs).distinct()
            submit(timed, "sig_index_write", lambda: sigs.write.mode(
                "overwrite").parquet(f"{out_dir}/neardup_sig_index"))
            cur = cur.drop("simhash")

        kept = with_content_split(cur).drop("bucket").withColumn(
            "shard",
            (((F.col("doc_id") % 2147483648) * 2654435761) % n_shards).cast("long"),
        )
        # resolve the card prefetch on the MAIN thread (pool tasks must
        # never wait on pool futures), then overlap its write with the
        # shard write
        card_df = card.result()
        submit(timed, "dataset_card", lambda: card_df.coalesce(1).write.mode(
            "overwrite").parquet(f"{out_dir}/dataset_card"))
        # observability rides the write itself (dq_observe_metrics
        # pattern): the final counters come from the pass that writes the
        # shards — zero extra scans — and are persisted next to the card
        # so a nightly 100 TB build self-reports without a re-read
        obs = Observation("corpus_build")
        observed = kept.observe(
            obs,
            F.count(F.lit(1)).alias("docs_written"),
            F.sum((F.col("split") == "train").cast("long")).alias("train_docs"),
            F.sum((F.col("split") == "val").cast("long")).alias("val_docs"),
            F.sum((F.col("split") == "test").cast("long")).alias("test_docs"),
            F.sum(F.length("text").cast("long")).alias("chars_written"),
        )
        timed("shard_write", lambda: observed.write.mode("overwrite").partitionBy(
            "split", "shard").parquet(f"{out_dir}/shards"))
        # observed sums over ZERO rows are null (only count is 0) — a
        # corpus where nothing passes the gate must report zeros, not crash
        m = {k: int(v or 0) for k, v in obs.get.items()}
        keys = ("docs_written", "train_docs", "val_docs", "test_docs", "chars_written")

        # metadata rows as JVM local relations (functions/localrel.py): the
        # pickled-RDD spelling cost 5.7/5.6 s PER WRITE here — half the
        # composed build's wall — because coalesce(1) iterated 32 empty
        # Python-backed partitions serially (OPTIMIZATION_r14.md, guide §4).
        # They run on the main thread: overlapped on the pool they measured
        # no faster in an interleaved A/B at sf0.1 (CHANGES.md).
        def meta_writes():
            local_rows_df(
                spark,
                [tuple(m[k] for k in keys)],
                "docs_written long, train_docs long, val_docs long, test_docs long, chars_written long",
            ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/build_metrics")
            local_rows_df(
                spark,
                [(i, s, docs, chars) for i, (s, docs, chars) in enumerate(funnel)],
                "stage_no long, stage string, docs long, chars long",
            ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/funnel")

        timed("meta_writes", meta_writes)

        def card_by_split():
            if not m["docs_written"]:
                return 0, 0
            written = spark.read.parquet(f"{out_dir}/shards")
            # one fused aggregate instead of two distinct().count() jobs —
            # split/shard are non-null partition columns, so countDistinct
            # is exactly the distinct-count the two jobs computed
            n = submit(lambda: written.agg(
                F.countDistinct("split"), F.countDistinct("split", "shard")
            ).first())
            # the extended dataset card: what was actually WRITTEN, per
            # (lang, split) — doc/char/token budget of the release
            written.groupBy("lang", "split").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("content_key").alias("n_keys"),
                F.sum(F.size(tokens_expr(F.col("text"))).cast("long")).alias("n_tokens"),
            ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/dataset_card_by_split")
            return tuple(n.result())

        splits, shards = timed("card_by_split", card_by_split)
        # every pool result is read before success is reported: a failed
        # background write re-raises from the join below
        wait(futs)
        built = True
        return {
            "docs_written": m["docs_written"],
            "splits": splits,
            "shards": shards,
            "train_docs": m["train_docs"],
            "val_docs": m["val_docs"],
            "test_docs": m["test_docs"],
            "chars_written": m["chars_written"],
            "funnel": {s: docs for s, docs, _ in funnel},
            "stage_walls": walls,
        }
    finally:
        _join_background(futs, surface=built)


def _join_background(futs: list, surface: bool) -> None:
    """Join a build's background work before it returns or raises:
    cancel() drops queued futures; in-flight ones are WAITED on so a
    failed build leaves out_dir quiescent (no background write still
    mutating it). Their own failures are surfaced: with ``surface`` (no
    primary exception propagating) the first one is re-raised, so a
    build never reports success over a failed write (ADVICE r15); on the
    error path they are logged as secondaries, since the primary
    exception is already propagating (ADVICE-r14)."""
    first = None
    for f in futs:
        if f.cancel():
            continue
        try:
            f.result()
        except Exception as e:
            if surface and first is None:
                first = e
            else:
                _LOG.warning(
                    "build_corpus: background job failed during cleanup",
                    exc_info=True,
                )
    if first is not None:
        raise first


# --- no-split greedy packing (capacity-reset recurrence) ----------------------

_NOSPLIT_SQL = f"""
WITH RECURSIVE d AS (
  SELECT lang, doc_id, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % {_N_PACK_SHARDS} AS shard,
         row_number() OVER (
           PARTITION BY lang, ((doc_id % 2147483648) * 2654435761) % {_N_PACK_SHARDS}
           ORDER BY doc_id) AS rn
  FROM documents
),
s AS (
  SELECT lang, shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
         CAST(n_tokens AS BIGINT) AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.lang, d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN s.fill + d.n_tokens > {_PACK_BUDGET} THEN s.seq_id + 1
              ELSE s.seq_id END,
         CASE WHEN s.fill + d.n_tokens > {_PACK_BUDGET} THEN CAST(0 AS BIGINT)
              ELSE s.fill END,
         CASE WHEN s.fill + d.n_tokens > {_PACK_BUDGET} THEN CAST(d.n_tokens AS BIGINT)
              ELSE s.fill + d.n_tokens END
  FROM s JOIN d ON d.lang = s.lang AND d.shard = s.shard AND d.rn = s.rn + 1
)
SELECT lang, CAST(shard AS BIGINT) AS shard, doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens, seq_id, seq_offset
FROM s
"""


def pack_group(pdf, budget: int = _PACK_BUDGET):
    """The no-split packing recurrence over one group (module-level so it is
    directly property-testable without Spark; used via applyInPandas by
    pipeline_seq_packing_nosplit). Pure integer state."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    seq = fill = 0
    seq_ids, offsets = [], []
    for n in pdf["n_tokens"]:
        n = int(n)
        if fill > 0 and fill + n > budget:
            seq += 1
            fill = 0
        seq_ids.append(seq)
        offsets.append(fill)
        fill += n
    pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
    pdf["seq_offset"] = pd.Series(offsets, dtype="int64")
    return pdf


@query("pipeline_seq_packing_nosplit", oracle=_NOSPLIT_SQL)
def pipeline_seq_packing_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy NO-SPLIT sequence packing: docs are placed whole; when the
    next doc would overflow the {budget}-token sequence, a new sequence
    starts (contrast pipeline_seq_packing, which lets a doc straddle the
    cut). The seq boundary is a capacity-RESET recurrence — each row's
    state depends on a conditional reset of the running fill, which no
    fixed-frame window can express — so this is the documented escape
    hatch: Arrow-batched ``applyInPandas`` per (lang, shard) group, O(n)
    per group, integer-only state (bit-stable across engines; the oracle
    replays the recurrence as a DuckDB recursive CTE over the same key).
    The composite key matters at scale: the recurrence only needs
    intra-shard order, so each pandas group is one hash shard of one
    language — bounded memory — and shards pack independently and in
    parallel, instead of an entire language materializing in one
    executor."""
    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "lang", "doc_id",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % _N_PACK_SHARDS)
        .cast("long")
        .alias("shard"),
    )
    # single-arg wrapper: applyInPandas inspects the signature and would
    # treat pack_group's (pdf, budget=...) as the (key, pdf) form
    return sized.groupBy("lang", "shard").applyInPandas(
        lambda pdf: pack_group(pdf),
        "lang string, shard bigint, doc_id bigint, n_tokens bigint, seq_id bigint, seq_offset bigint",
    ).select(
        "lang", "shard", "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id", "seq_offset",
    )


# --- substring-level duplicate spans (Lee et al. 2021 precursor) --------------

_SPAN_W = 5

_DUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, unnest({{grams}}) AS g FROM toks
),
df AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g),
per AS (
  SELECT g.doc_id, count(*) AS n_spans,
         CAST(sum(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
  FROM g JOIN df USING (g) GROUP BY g.doc_id
)
SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans, dup_spans,
       dup_spans * 1.0 / n_spans AS dup_frac
FROM per
""".replace("{grams}", _ngrams_sql(_SPAN_W))


@query("pipeline_duplicate_spans", oracle=_DUP_SPANS_SQL)
def pipeline_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal — the precursor to
    substring-granular dedup (Lee et al. 2021, arXiv:2107.06499: removing
    repeated spans, not just repeated documents, measurably improves LMs).
    Every {W}-token span position is checked against the corpus-wide span
    index; the output is each document's span count, how many of its span
    positions also occur in ANOTHER document, and the duplicated
    fraction — the per-doc number a span-removal pass keys on.

    Plan: map-side n-gram explode → one distinct-doc count per span →
    join back → per-doc aggregate. At 100 TB the span index is the big
    relation: group on a 16-byte span hash instead of the string (exact
    modulo the documented collision bound — here the string keys keep
    the DuckDB oracle bit-exact), cap hot spans' postings at a
    document-frequency bound (a boilerplate span shared by millions of
    docs is precisely the skew driver), and the join is co-partitioned on
    the span key."""
    from vat_etl_spark.queries.dedup import _docs_fanout

    # single-file local scan = one input partition: without the adaptive
    # re-split the span explode serializes on one core (see _docs_fanout)
    d = _docs_fanout(spark, sf_dir)
    # tokenize into a COLUMN before the n-gram lambda: a lambda slicing the
    # raw split() expression re-runs the split per element (O(len²) —
    # the measured classifier pathology, see classifier_label_plan)
    g = d.select("doc_id", tokens_expr(F.col("text")).alias("t")).select(
        "doc_id",
        F.explode(_ngrams(F.col("t"), _SPAN_W)).alias("g"),
    )
    nd = g.groupBy("g").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        g.join(nd, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("dup_spans"),
        )
        .select(
            "doc_id", "n_spans", "dup_spans",
            (F.col("dup_spans") * 1.0 / F.col("n_spans")).alias("dup_frac"),
        )
    )


# --- substring-granular span REMOVAL (the Lee et al. 2021 operation itself) ---

_SPAN_RM_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, i, array_to_string(list_slice(t, i, i + {_SPAN_W - 1}), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_W - 1})) AS s(i)
),
dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, i FROM g JOIN dup USING (g)),
brk AS (
  SELECT doc_id, i,
         CASE WHEN i > coalesce(lag(i) OVER w, -{_SPAN_W}) + {_SPAN_W}
              THEN 1 ELSE 0 END AS b
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
isl AS (
  SELECT doc_id, i,
         sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM brk
),
iv AS (
  SELECT doc_id, island, min(i) AS s, max(i) + {_SPAN_W - 1} AS e
  FROM isl GROUP BY doc_id, island
),
ivstats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
         CAST(sum(e - s + 1) AS BIGINT) AS n_removed
  FROM iv GROUP BY doc_id
),
pos AS (
  SELECT doc_id, i, t[i] AS w
  FROM toks, UNNEST(generate_series(1, len(t))) AS s(i)
),
cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM iv),
kept AS (
  SELECT pos.doc_id, string_agg(pos.w, ' ' ORDER BY pos.i) AS cleaned_text
  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.i = cov.p
  WHERE cov.p IS NULL
  GROUP BY pos.doc_id
)
SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       coalesce(ivstats.n_removed, 0) AS n_removed,
       coalesce(ivstats.n_islands, 0) AS n_islands,
       coalesce(kept.cleaned_text, '') AS cleaned_text
FROM toks
LEFT JOIN ivstats ON toks.doc_id = ivstats.doc_id
LEFT JOIN kept ON toks.doc_id = kept.doc_id
"""


@query("pipeline_span_removal", oracle=_SPAN_RM_SQL)
def pipeline_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granular dedup — the operation itself, not just the
    signal (Lee et al. 2021, arXiv:2107.06499: cut the REPEATED SPANS out
    of each document and keep the rest). pipeline_duplicate_spans reports
    how duplicated a document is; this emits the cleaned document:

    1. every {W}-token span occurring in ≥ 2 distinct docs marks its
       start position as duplicated;
    2. per doc, duplicated positions merge into maximal covered token
       intervals (overlap OR adjacency — equal-length spans sorted by
       start need only ``lag``: new island iff i > lag(i) + {W});
    3. covered tokens are cut; the survivors re-join into cleaned_text.

    Plan shape at 100 TB: the span-index join is the one big shuffle
    (co-partitioned on the span key, same skew discipline as
    pipeline_duplicate_spans); the interval-merge windows partition by
    doc_id, so state is bounded by ONE document's dup positions, never a
    corpus-scale sort; islands then collapse to a doc-grain array (a few
    (start,end) structs per doc) and reconstruction is a MAP-ONLY native
    higher-order filter over the token array — no token-grain anti-join
    shuffle (the oracle spells that slow-but-obvious form in SQL; the
    Spark plan deliberately does not). Everything is ints + strings —
    hash-exact across engines."""
    from vat_etl_spark.queries.dedup import _docs_fanout

    return span_removal_plan(_docs_fanout(spark, sf_dir))


def span_removal_plan(d: DataFrame) -> DataFrame:
    """The span-removal plan over an arbitrary docs frame (needs
    ``doc_id``, ``text``) — the shared core of
    :func:`pipeline_span_removal` and the ``build_corpus`` funnel stage,
    where it runs over the docs that SURVIVED the upstream filters (span
    duplication is a property of the current corpus, not the raw feed).
    Returns one row per input doc with ``cleaned_text``."""
    w = _SPAN_W
    toked = d.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    # round 15 (guide §2.4/§5, same intra-call pattern as _graph_serve):
    # the tokenized frame feeds THREE consumers — the dup-span aggregate,
    # the hits join probe, and the final join-back — and each one
    # re-scanned the corpus parquet and re-ran the regexp tokenizer.
    # Persisted for this call; the caller releases it at the run boundary.
    toked = toked.persist()
    # round 15 (guide §2.3): the two span-keyed shuffles (dup aggregate,
    # hits join) carried the w-token span STRING (~6w bytes/row at token
    # grain); xxhash64 narrows the key to 8 bytes. Same collision budget
    # as dedup's _hashed_sets (~n²/2⁶⁵ over distinct spans — zero
    # observed at every oracle SF, where results stay hash-identical).
    g = toked.select(
        "doc_id",
        F.posexplode(_ngrams(F.col("t"), w)).alias("i0", "g"),
    ).select(
        "doc_id", (F.col("i0") + 1).alias("i"), F.xxhash64("g").alias("gh")
    )
    dup = (
        g.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = g.join(dup, "gh").select("doc_id", "i")
    win = W.partitionBy("doc_id").orderBy("i")
    brk = hits.select(
        "doc_id", "i",
        (F.col("i") > F.coalesce(F.lag("i").over(win), F.lit(-w)) + w)
        .cast("long")
        .alias("b"),
    )
    isl = brk.select(
        "doc_id", "i",
        F.sum("b").over(win.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("island"),
    )
    iv = isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), (F.max("i") + (w - 1)).alias("e")
    )
    per_doc = iv.groupBy("doc_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("islands"),
    )
    empty_iv = F.array().cast("array<struct<s:bigint,e:bigint>>")
    joined = toked.join(per_doc, "doc_id", "left").select(
        "doc_id", "t",
        F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("islands", empty_iv).alias("islands"),
    )
    pairs = F.transform(
        "t", lambda tok, idx: F.struct((idx + 1).alias("p"), tok.alias("w"))
    )
    kept = F.filter(
        pairs,
        lambda s: ~F.exists(
            F.col("islands"),
            lambda r: (s["p"] >= r["s"]) & (s["p"] <= r["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        "n_removed",
        "n_islands",
        F.array_join(F.transform(kept, lambda s: s["w"]), " ").alias(
            "cleaned_text"
        ),
    )


pipeline_span_removal.__doc__ = pipeline_span_removal.__doc__.format(W=_SPAN_W)


# --- C4-style global line dedup (keep-first survivor) --------------------------

_LINE_W = 10  # tokens per pseudo-line (testdata text has no newlines)

_LINE_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
lines AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(list_slice(t, (i - 1) * {_LINE_W} + 1, i * {_LINE_W}), ' ') AS line
  FROM toks, UNNEST(generate_series(1, (len(t) + {_LINE_W - 1}) // {_LINE_W})) AS s(i)
),
surv AS (
  SELECT line, min(doc_id * 1000000 + line_idx) AS keep_key
  FROM lines GROUP BY line
),
occ AS (
  SELECT l.doc_id, l.line_idx, l.line,
         (l.doc_id * 1000000 + l.line_idx = s.keep_key) AS kept
  FROM lines l JOIN surv s USING (line)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_idx),
                '') AS cleaned_text
FROM occ GROUP BY doc_id
"""


@query("pipeline_line_dedup", oracle=_LINE_DEDUP_SQL)
def pipeline_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line deduplication (Raffel et al. 2020,
    arXiv:1910.10683: any line occurring more than once in the corpus is
    kept ONCE — in its first document — and removed everywhere else).
    The keep-one survivor rule is what distinguishes this from
    pipeline_span_removal's cut-all-copies rule; together they are the
    two standard substring-granular dedup policies. The testdata has no
    newlines, so a 'line' is a fixed {W}-token pseudo-line — the Spark
    machinery (global line index, keep-first survivorship, reassembly)
    is byte-identical to what real newline splitting would feed.

    Survivorship needs NO window: the first occurrence of a line is
    ``min(doc_id·10^6 + line_idx)`` — one composite-int64 MIN per
    distinct line, keyed on its 128-bit hash pair (map-side partial
    agg), then one co-partitioned join
    back to the occurrence stream tags keepers (headroom: docs to 10^7
    tokens, doc_ids to 9·10^12). Reassembly is a doc-grain aggregate
    (sorted collect of a doc's kept lines — state bounded by ONE
    document). Plan at 100 TB: two shuffles (line index, doc regroup),
    both key-partitioned, no broadcast of anything corpus-derived."""
    return reassemble_lines(line_dedup_plan(_t(spark, sf_dir, "documents")))


def line_dedup_plan(d: DataFrame, seen: DataFrame | None = None) -> DataFrame:
    """The C4 line-occurrence plan over an arbitrary docs frame (needs
    ``doc_id``, ``text``) — the one core of :func:`pipeline_line_dedup`,
    the ``build_corpus`` funnel stage and the streaming line gate
    (streaming/corpus.py ``admit_lines_batch``). One row per pseudo-line
    occurrence: ``doc_id, line_idx, line, lk, lk2, kept``.

    Lines are keyed on a 128-bit pair of independent xxhash64s
    (``lk, lk2``; collision bound at streaming/corpus.py
    ``_LINE_IDX_BUCKETS``), so the survivor election and the join back
    shuffle 16-byte keys instead of line text. Keep-first is global over
    whatever corpus is passed in (the funnel runs it on the docs that
    survived the upstream filters); ``seen`` — already-admitted
    ``(lk, lk2)`` keys — removes every occurrence of a line it holds."""
    w = _LINE_W
    toked = d.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    lines = toked.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(t) + {w - 1}) div {w}),"
                f" i -> concat_ws(' ', slice(t, (i - 1) * {w} + 1, {w})))"
            )
        ).alias("i0", "line"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("line_idx"),
        "line",
        F.xxhash64("line").alias("lk"),
        F.xxhash64(F.lit(-1), F.col("line")).alias("lk2"),
    )
    fresh = lines
    if seen is not None:
        fresh = lines.join(seen.select("lk", "lk2"), ["lk", "lk2"], "left_anti")
    surv = fresh.groupBy("lk", "lk2").agg(
        F.min(F.col("doc_id") * 1_000_000 + F.col("line_idx")).alias("keep_key")
    )
    # left join: a line in `seen` has no survivor, so its kept is NULL
    return lines.join(surv, ["lk", "lk2"], "left").select(
        "doc_id", "line_idx", "line", "lk", "lk2",
        (F.col("doc_id") * 1_000_000 + F.col("line_idx") == F.col("keep_key"))
        .alias("kept"),
    )


def reassemble_lines(occ: DataFrame) -> DataFrame:
    """Doc-grain reassembly of a :func:`line_dedup_plan` frame: one row
    per doc with ``n_lines``, ``n_removed`` and ``cleaned_text`` (its kept
    lines in line order)."""
    kept_struct = F.when(F.col("kept"), F.struct("line_idx", "line"))
    return occ.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            " ",
        ).alias("cleaned_text"),
    )


pipeline_line_dedup.__doc__ = pipeline_line_dedup.__doc__.format(W=_LINE_W)


# --- PII scrubbing -------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"
_PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

# The synthetic corpus contains no PII, so the query plants deterministic
# PII derived from doc_id (both engines build the identical string) — the
# scrub then has real work and the oracle match is non-vacuous.
_PII_RAW_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS STRING)"
    " || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-'"
    " || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'"
    " || CAST(doc_id % 256 AS STRING) || '.'"
    " || CAST((doc_id * 7) % 256 AS STRING) ELSE '' END"
)

_PII_SQL = f"""
WITH raw AS (
  SELECT doc_id, {_PII_RAW_SQL} AS raw FROM documents
),
scrubbed AS (
  SELECT doc_id, raw,
    regexp_replace(
      regexp_replace(
        regexp_replace(raw, '{_PII_EMAIL}', '[EMAIL]', 'g'),
        '{_PII_PHONE}', '[PHONE]', 'g'),
      '{_PII_IP}', '[IP]', 'g') AS clean
  FROM raw
)
SELECT doc_id,
  CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(clean, '{_PII_EMAIL}'))
     + len(regexp_extract_all(clean, '{_PII_PHONE}'))
     + len(regexp_extract_all(clean, '{_PII_IP}')) AS BIGINT) AS n_residual,
  md5(clean) AS clean_md5
FROM scrubbed
"""


def scrub_pii(col):
    """Redact emails → phones → IPv4s (that order — see the query
    docstring) as a pure column expression; shared by the registered
    query and the hypothesis fuzz test that pins the zero-residual
    property on arbitrary text."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IP,
        "[IP]",
    )


@query("pipeline_pii_scrub", oracle=_PII_SQL)
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every released corpus runs:
    emails, phone numbers, and IPv4 addresses are counted and replaced
    with typed placeholders; ``n_residual`` re-scans the SCRUBBED text
    with the same detectors (must be 0 — the self-audit that catches a
    replacement order or pattern bug), and ``clean_md5`` lets the oracle
    assert the redacted text byte-for-byte. Detection and redaction are
    pure regexp column expressions — map-only, fuses into the scan, no
    shuffle at any scale. Patterns avoid lookaround so Java (Spark) and
    RE2 (DuckDB) agree; the synthetic PII is planted deterministically
    from doc_id because the testdata contains none (docstring constant
    _PII_RAW_SQL; both engines build identical strings)."""
    d = _t(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_PII_RAW_SQL).alias("raw"))
    scrubbed = raw.select("doc_id", "raw", scrub_pii(F.col("raw")).alias("clean"))
    residual = (
        F.regexp_count(F.col("clean"), F.lit(_PII_EMAIL))
        + F.regexp_count(F.col("clean"), F.lit(_PII_PHONE))
        + F.regexp_count(F.col("clean"), F.lit(_PII_IP))
    )
    return scrubbed.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("raw"), F.lit(_PII_IP)).cast("long").alias("n_ips"),
        residual.cast("long").alias("n_residual"),
        F.md5(F.col("clean")).alias("clean_md5"),
    )


# --- streaming corpus ingest: the admit step as a pure plan -------------------

_CORPUS_ADMIT_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
feat AS (
  SELECT doc_id, lang, source,
         array_to_string(list_slice(t, 1, 2), ' ') AS content_key,
         ((len(t) BETWEEN 25 AND 80)
          AND (len(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(t) BETWEEN 4.0 AND 5.0)
          AND (len(list_filter(t, x -> x IN {_STOP_IN_SQL})) * 1.0 / len(t)) >= 0.02) AS passes
  FROM toks
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
  FROM feat WHERE passes
)
SELECT doc_id, lang, source, content_key FROM ranked WHERE rn = 1
"""


def corpus_admit_plan(
    batch: DataFrame, existing_keys: DataFrame | None = None
) -> DataFrame:
    """The streaming corpus ingest's deterministic admit step as a pure
    lazy plan — quality gate → (optional) left-anti join against the
    persisted content-key index → rank-1 per content key within the
    batch. streaming/corpus.py's ``admit_batch`` executes exactly this
    function per micro-batch, so the registered batch twin's driver row
    is direct evidence for the streaming path's admit semantics (the
    stream adds only the index read and the idempotent per-epoch write
    around it). ``existing_keys`` needs a ``content_key`` column; its
    other columns and duplicate keys are ignored."""
    keyed = batch.withColumn(
        "content_key",
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)),
    ).join(
        quality_flags(batch).filter(F.col("passes")).select("doc_id"),
        "doc_id",
    )
    if existing_keys is not None:
        keyed = keyed.join(
            existing_keys.select("content_key").distinct(), "content_key",
            "left_anti",
        )
    w = W.partitionBy("content_key").orderBy("doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query("corpus_ingest_admit_twin", oracle=_CORPUS_ADMIT_SQL)
def corpus_ingest_admit_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming corpus ingest's admit step: the whole
    documents table arriving as ONE micro-batch against an empty key
    index. Same function the stream runs (corpus_admit_plan), so the
    DuckDB hash match here certifies the stream's per-batch semantics;
    replay idempotence and multi-batch index behavior are pinned in
    tests/test_streaming.py."""
    d = _t(spark, sf_dir, "documents")
    return corpus_admit_plan(d).select("doc_id", "lang", "source", "content_key")


# --- incremental dedup (delta batch vs existing corpus index) -----------------

_INCR_DEDUP_SQL = r"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2), ' ') AS content_key,
         (doc_id % 10 >= 8) AS is_new
  FROM documents
),
existing AS (SELECT DISTINCT content_key FROM keyed WHERE NOT is_new),
batch AS (
  SELECT *, row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
  FROM keyed WHERE is_new
)
SELECT b.doc_id, b.lang, b.source, b.content_key
FROM batch b LEFT JOIN existing e USING (content_key)
WHERE e.content_key IS NULL AND b.rn = 1
"""


@query("pipeline_incremental_dedup", oracle=_INCR_DEDUP_SQL)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production delta pattern: a new
    ingest batch (stand-in: ``doc_id % 10 >= 8``) is admitted only where
    its content key is (a) absent from the existing corpus index
    (LEFT ANTI join against the distinct-key index — never the full
    corpus) and (b) the first occurrence within the batch itself (rank-1
    window on the batch only). The existing corpus is touched ONLY as its
    key index: at 100 TB that index is a compact bucketed table of
    16-byte fingerprints, the anti-join co-locates on the bucket key, and
    the window runs over the (small) delta — nothing ever re-reads or
    re-shuffles the historical documents."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "lang", "source",
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)).alias("content_key"),
        (F.col("doc_id") % 10 >= 8).alias("is_new"),
    )
    existing = keyed.filter(~F.col("is_new")).select("content_key").distinct()
    batch = keyed.filter(F.col("is_new"))
    w = W.partitionBy("content_key").orderBy("doc_id")
    first_in_batch = (
        batch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return (
        first_in_batch.join(existing, "content_key", "left_anti")
        .select("doc_id", "lang", "source", "content_key")
    )


# --- temperature-scaled language sampling -------------------------------------

_TEMP_MIX_SQL = f"""
WITH feat AS (
  SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 1000 AS bucket
  FROM documents
),
stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
  FROM feat GROUP BY lang
),
head AS (SELECT CAST(max(lang_tokens) AS BIGINT) AS head_tokens FROM stats),
rates AS (
  SELECT lang, n_docs, lang_tokens,
         least(1000, CAST(floor(500.0 * sqrt(CAST(head_tokens AS DOUBLE)
                                             / CAST(lang_tokens AS DOUBLE)))
                          AS BIGINT)) AS rate_per_mille
  FROM stats, head
)
SELECT f.lang, r.n_docs, r.lang_tokens AS n_tokens, r.rate_per_mille,
       CAST(sum(CASE WHEN f.bucket < r.rate_per_mille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f.bucket < r.rate_per_mille THEN f.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM feat f JOIN rates r USING (lang)
GROUP BY f.lang, r.n_docs, r.lang_tokens, r.rate_per_mille
"""


@query("pipeline_temperature_mix", oracle=_TEMP_MIX_SQL)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (the multilingual-corpus
    balancing rule of Conneau & Lample 2019 / mT5, arXiv:1910.10683 §3.1,
    at alpha = 0.5): each language's keep-rate is proportional to
    ``n_l^(alpha-1) = 1 / sqrt(n_l)``, so low-resource languages are
    up-sampled toward uniform while the head language anchors the scale
    at a 500 per-mille base rate. Unlike ``pipeline_domain_mix`` (fixed
    hand-set weights) the rates here are DERIVED FROM THE DATA by a tiny
    per-language token aggregate.

    Engine-exactness: alpha = 0.5 is deliberate — the rate is
    ``sqrt(head/n_l)`` over two exact integers, and IEEE-754 division and
    sqrt are correctly rounded, so Spark and the oracle floor the SAME
    double (a general ``pow(x, 0.3)`` or a normalizing sum of doubles
    would be accumulation-order-dependent and hash-flake). Selection is
    the same deterministic Knuth-hash per-mille coin as the other
    samplers. Scale: the stats aggregate is |langs| rows, the rate table
    joins back by broadcast, the keep predicate is map-side — at 100 TB
    the only corpus-sized shuffle is the final per-language report."""
    d = _t(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % 1000).alias("bucket"),
    )
    stats = feat.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("lang_tokens"),
    )
    head = stats.agg(F.max("lang_tokens").alias("head_tokens"))
    rates = stats.crossJoin(F.broadcast(head)).select(
        "lang", "n_docs", "lang_tokens",
        F.least(
            F.lit(1000),
            F.floor(
                500.0
                * F.sqrt(
                    F.col("head_tokens").cast("double")
                    / F.col("lang_tokens").cast("double")
                )
            ).cast("long"),
        ).alias("rate_per_mille"),
    )
    kept = F.col("bucket") < F.col("rate_per_mille")
    return (
        feat.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", F.col("lang_tokens").alias("n_tokens"), "rate_per_mille")
        .agg(
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
        )
    )


# --- deterministic global shuffle into training shards ------------------------

_N_SHUFFLE_SHARDS = 16

_GLOBAL_SHUFFLE_SQL = f"""
WITH hashed AS (
  SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 2147483647 AS h
  FROM documents
),
sharded AS (
  SELECT doc_id, lang, n_tokens, h, h % {_N_SHUFFLE_SHARDS} AS shard
  FROM hashed
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM sharded
"""


@query("pipeline_global_shuffle", oracle=_GLOBAL_SHUFFLE_SQL)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into training shards —
    the write-side layout step that randomizes document order before
    sequence packing so a trainer streaming shard files sees an unbiased
    sample (corpora arrive sorted by crawl/source, which skews early
    training). The 'random' order is a pure function of doc_id (Knuth
    multiplicative hash), so the shuffle is reproducible run-to-run and
    engine-to-engine — no rand(), no seed files.

    Scale shape: this is ONE hash-partition exchange (shard = h mod N)
    followed by a per-shard local sort — never a global single-partition
    window. Shard count is a free parameter chosen so each shard is one
    task-sized output file (~256 MB): at 100 TB that is ~400k shards and
    per-task work stays CONSTANT as the corpus grows; the 16 here is
    sized to the test corpus. Returned doc-level so the correctness gate
    hash-pins the complete (shard, pos) assignment."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        (((F.col("doc_id") % 2147483648) * 2654435761) % 2147483647).alias("h"),
    ).withColumn("shard", F.col("h") % _N_SHUFFLE_SHARDS)
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return hashed.select(
        "doc_id", "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("shard").cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# --- epoch-weighted source upsampling -----------------------------------------

_EPOCH_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         CAST(substr(source, 4) AS INTEGER) AS src_num,
         ((doc_id % 2147483648) * 2246822519) % 1000 AS bucket,
         {_NTOK_SQL} AS n_tokens
  FROM documents
),
weighted AS (
  SELECT *,
         CASE src_num % 3 WHEN 0 THEN 2500 WHEN 1 THEN 1500 ELSE 1000 END
           AS epochs_per_mille
  FROM keyed
),
copies AS (
  SELECT doc_id, lang, source, n_tokens, epochs_per_mille,
         epochs_per_mille // 1000
           + CASE WHEN bucket < epochs_per_mille % 1000 THEN 1 ELSE 0 END
           AS n_copies
  FROM weighted
)
SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(epochs_per_mille AS BIGINT) AS epochs_per_mille,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST(copy_id AS BIGINT) AS copy_id
FROM copies, UNNEST(generate_series(1, n_copies)) AS s(copy_id)
"""


@query("pipeline_epoch_upsample", oracle=_EPOCH_SQL)
def pipeline_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted source upsampling with FRACTIONAL epochs — the data
    recipe pattern of Llama/GPT-3 style mixtures (Touvron et al. 2023,
    arXiv:2302.13971 Table 1: Wikipedia 2.45 epochs, CommonCrawl 0.64):
    every document of a source with weight 2.5 appears floor(2.5) = 2
    times, and a deterministic 500-per-mille hash coin grants the third
    copy, so the EXPECTED epoch count is exactly the fractional weight
    while each individual decision is a pure function of doc_id.
    Source-class weights here cycle {{2.5, 1.5, 1.0}} over the synthetic
    src0..src19; production weights are a parameter.

    Scale: the copy expansion is a map-side explode of sequence(1, n) —
    no shuffle, no join; output size is sum of weights × corpus, which is
    the intended training-set size. Returned doc-level (one row per
    physical copy) so the gate pins the exact expansion.

    The coin is SALTED with its own multiplier (2246822519, a xxhash
    prime) rather than the 2654435761 the other samplers use: these
    operators compose (sample, then upsample), and identical coins would
    perfectly correlate the decisions — every temperature-sampling
    survivor would also win the extra-copy toss, silently turning a 2.5
    epoch weight into 3.0 on the composed output."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "lang", "source",
        F.substring("source", 4, 10).cast("int").alias("src_num"),
        (((F.col("doc_id") % 2147483648) * 2246822519) % 1000).alias("bucket"),
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
    )
    weighted = keyed.withColumn(
        "epochs_per_mille",
        F.when(F.col("src_num") % 3 == 0, 2500)
        .when(F.col("src_num") % 3 == 1, 1500)
        .otherwise(1000),
    )
    copies = weighted.withColumn(
        "n_copies",
        F.expr("epochs_per_mille div 1000")
        + F.when(F.col("bucket") < F.col("epochs_per_mille") % 1000, 1).otherwise(0),
    )
    return copies.select(
        "doc_id", "lang", "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("epochs_per_mille").cast("long").alias("epochs_per_mille"),
        F.col("n_copies").cast("long").alias("n_copies"),
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_id"),
    ).withColumn("copy_id", F.col("copy_id").cast("long"))


# --- bigram-LM fluency scoring (log-free, integer-exact) ----------------------

_BIGRAM_FLUENCY_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
bi AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i, i + 1), ' ') AS g,
         t[i] AS w1
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
),
c2 AS (SELECT g, count(*) AS cg FROM bi GROUP BY g),
c1 AS (SELECT w1, count(*) AS cw FROM bi GROUP BY w1),
scored AS (
  SELECT b.doc_id, (1000000 * c2.cg) // c1.cw AS pts
  FROM bi b JOIN c2 USING (g) JOIN c1 USING (w1)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(pts) AS BIGINT) AS fluency_sum,
       CAST(sum(pts) // count(*) AS BIGINT) AS fluency_mean
FROM scored GROUP BY doc_id
"""


@query("text_bigram_fluency", oracle=_BIGRAM_FLUENCY_SQL)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring — one modeling step past the unigram
    rarity proxy (text_rarity_score): each bigram (w1, w2) scores the
    integer-scaled conditional probability ``1e6 * c(w1,w2) div c(w1,·)``
    (CCNet, Wenzek et al. 2019 arXiv:1911.00359, filters on 5-gram KenLM
    perplexity; this is the bit-exact 2-gram stand-in — higher mean =
    more predictable = more fluent under the corpus LM). Integer-only on
    purpose: log-prob doubles would hash-flake across engines and
    accumulation orders.

    Scale: bigram counts and head counts are corpus-derived aggregates
    joined back WITHOUT broadcast hints (a web-scale bigram table is
    bigger than the vocab — the text_rarity_score OOM lesson applies
    doubly); AQE broadcasts when small and skew-splits hot stopword heads
    otherwise. The head counts are derived by RE-AGGREGATING the
    distinct-bigram count table (summing cg per w1 over bigram TYPES
    equals counting the raw stream per head) — the raw bigram stream is
    scanned once for counting and once for scoring, never three times,
    and both count tables attach through ONE stream-sized join.

    Round 15 (guide §2.3; the round-12 _kn_hashed_bigrams treatment
    text_kneser_ney_bigram already had, applied to the one bigram query
    that still shuffled strings): every shuffle and join keys on the
    (w1, w2) 64-bit xxhash64 token-id pair instead of the concatenated
    bigram string — fixed-width shuffle rows, one hash per token map-side
    instead of 3 string ops per bigram, no UTF8String sort-merge
    comparisons. Whitespace tokenization makes g ↔ (w1, w2) a bijection
    and token↔id holds up to the xxhash64 collision bound (~V²/2⁶⁵);
    the DuckDB oracle, which keys on the STRINGS, re-proves exact
    equality at both pinned SFs."""
    d = _t(spark, sf_dir, "documents")
    bi = _kn_hashed_bigrams(d)
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("cg"))
    c1 = c2.groupBy("w1").agg(F.sum("cg").alias("cw"))
    counts = c2.join(c1, "w1")
    scored = bi.join(counts, ["w1", "w2"]).select(
        "doc_id", F.expr("(1000000 * cg) div cw").alias("pts")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("pts").alias("fluency_sum"),
        F.expr("sum(pts) div count(*)").alias("fluency_mean"),
    )


# --- BPE tokenizer training steps ---------------------------------------------

_BPE_PAIRS_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, cnt
  FROM vocab, UNNEST(generate_series(1, length(w) - 1)) AS s(i)
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
"""


@query("text_bpe_pair_counts", oracle=_BPE_PAIRS_SQL)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909): adjacent-character-pair frequencies over the
    corpus. Uses the classic word-frequency trick — pairs are expanded
    over the VOCABULARY table weighted by word count, not over the raw
    token stream, so the expansion input is |vocab| rows regardless of
    corpus size. At 100 TB the only corpus-sized shuffle is the word
    count; the pair aggregate's key space is bounded by charset², which
    is dictionary-sized for any real alphabet."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    idx = F.sequence(F.lit(1), F.length("w") - 1)
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(idx, lambda i: F.substr(F.col("w"), i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))
    pairs = vocab.select(F.explode(pair_arr).alias("pair"), "cnt")
    return pairs.groupBy("pair").agg(F.sum("cnt").alias("pair_count"))


# --- DuckDB replay of BPE training (K unrolled rounds) -------------------------
#
# The iterative loop is replayed as a STATIC chain of CTEs — one
# (pairs -> argmax -> fuse) block per merge rank. The vocabulary state
# between rounds is a separator-framed string per word:
#     chr(1) || sym1 || chr(1)chr(1) || sym2 || ... || chr(1)
# (every symbol wrapped in chr(1) on both sides, two between neighbors).
# Fusing pair (a, b) is then ONE plain replace() of
# chr(1)+a+chr(1)+chr(1)+b+chr(1) with chr(1)+ab+chr(1): replace() scans
# left-to-right non-overlapping, which is exactly the leftmost-first greedy
# convention of py_bpe_merge in tests/conftest.py, and the full separator
# frame makes a match possible only on whole adjacent symbols (prefix/suffix
# substrings of neighboring symbols can never sit between the right
# separators).
_BPE_K = 5
_BPE_SEP = "chr(1)"
_BPE_SS = f"{_BPE_SEP} || {_BPE_SEP}"


def _bpe_train_ctes(k: int = _BPE_K) -> str:
    """CTE chain text: vocab0 .. vocab{k}, top1 .. top{k}."""
    parts = [
        r"""toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
),
vocab0 AS (
  SELECT w, count(*) AS cnt,
         """
        + f"{_BPE_SEP} || array_to_string(list_filter(regexp_split_to_array(w, ''), x -> x <> ''), {_BPE_SS}) || {_BPE_SEP} AS repr"
        + """
  FROM toks WHERE w <> '' GROUP BY w
)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""syms{r} AS (
  SELECT w, cnt, repr,
         string_split(substring(repr, 2, length(repr) - 2), {_BPE_SS}) AS syms
  FROM vocab{r - 1}
),
pairs{r} AS (
  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i + 1 AS INT)] AS b, sum(cnt) AS c
  FROM syms{r}, UNNEST(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2
),
top{r} AS (SELECT a, b, c FROM pairs{r} ORDER BY c DESC, a, b LIMIT 1),
vocab{r} AS (
  SELECT w, cnt,
         replace(repr, {_BPE_SEP} || t.a || {_BPE_SS} || t.b || {_BPE_SEP},
                 {_BPE_SEP} || t.a || t.b || {_BPE_SEP}) AS repr
  FROM syms{r}, top{r} t
)"""
        )
    return ",\n".join(parts)


_BPE_MERGES_SQL = (
    "WITH " + _bpe_train_ctes() + "\n"
    + "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS BIGINT) AS rank, a AS "left", b AS "right",'
        f" CAST(c AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, _BPE_K + 1)
    )
)

_BPE_APPLY_SQL = (
    "WITH " + _bpe_train_ctes() + f""",
final AS (
  SELECT w,
         len(string_split(substring(repr, 2, length(repr) - 2), {_BPE_SS})) AS bpe
  FROM vocab{_BPE_K}
),
dw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
),
agg AS (
  SELECT dw.doc_id, sum(length(dw.w)) AS chars, sum(f.bpe) AS bpe_tokens
  FROM dw JOIN final f USING (w) GROUP BY dw.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.chars, 0) AS BIGINT) AS chars,
       CAST(coalesce(a.bpe_tokens, 0) AS BIGINT) AS bpe_tokens,
       CAST(CASE WHEN coalesce(a.chars, 0) > 0
                 THEN (1000 * a.bpe_tokens) // a.chars END AS BIGINT)
         AS compression_per_mille
FROM documents d LEFT JOIN agg a USING (doc_id)
"""
)


def _bpe_sep_guard(w):
    """Framing invariant guard: no token may contain the chr(1) separator
    byte. Whitespace tokenization admits control bytes, and a \\x01 inside
    a token would corrupt the separator-framed merge state IDENTICALLY in
    the DuckDB oracle (same framing), so the hash gate could never detect
    it — fail loudly instead of silently mis-merging."""
    return F.when(
        F.contains(w, F.lit(chr(1))),
        F.raise_error(
            F.lit("BPE framing invariant violated: token contains \\x01")
        ).cast("string"),
    ).otherwise(w)


@query("text_bpe_merges", oracle=_BPE_MERGES_SQL)
def text_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 5,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """BPE tokenizer training, the real iterative loop: K times, count
    adjacent symbol pairs over the weighted vocabulary, pick the most
    frequent (ties broken lexicographically — deterministic), and fuse it
    everywhere. Returns the learned merge table (rank, pair, count at
    merge time) — the artifact a tokenizer ships.

    Distribution contract (the kmeans_lloyd / graph_pagerank convention):
    per-iteration state is the DISTRIBUTED symbolized-vocab DataFrame;
    the only driver-side data is the argmax pair — ONE row per iteration
    (model-sized, like a centroid set). Lineage control: persist bounds
    RECOMPUTE cost but the logical plan still chains one fuse layer per
    merge (analyzer time grows with K), so ``checkpoint_every`` truncates
    the chain with an eager ``localCheckpoint`` every N merges — the
    cadence a production K~30k run needs (at K=200 the measured per-merge
    wall time is flat with checkpointing and grows without; SCALE.md §BPE,
    tools/bpe_bench.py). A checkpointed frame is never unpersisted
    mid-loop: downstream persisted frames recompute THROUGH it on
    eviction, and its truncated lineage cannot be replayed. Verified
    against a pure-Python BPE on the same corpus in
    tests/test_llm_pipeline.py (K=5 registered, K=200 in the bench)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    # seed symbol arrays: one single-char symbol per character
    # vocabulary state = separator-framed symbol STRING per word (the same
    # construction the DuckDB oracle replays):
    # pair counting splits it natively, and fusing the argmax pair is ONE
    # codegen'd replace() — no interpreted array-fold layer per merge.
    # Measured: identical merge tables, and the per-merge fuse drops out of
    # the interpreted path entirely (the K~30k production concern).
    sep = chr(1)
    # separator-byte invariant checked once per DISTINCT word (vocab
    # grain — cheap) before any framing is built; see _bpe_sep_guard
    vocab = vocab.withColumn("w", _bpe_sep_guard(F.col("w")))
    chars = F.filter(F.split(F.col("w"), ""), lambda s: s != "")
    sym = vocab.select(
        F.concat(F.lit(sep), F.array_join(chars, sep + sep), F.lit(sep)).alias(
            "repr"
        ),
        "cnt",
    ).persist()
    sym.count()
    syms_col = F.split(
        F.expr("substring(repr, 2, length(repr) - 2)"), sep + sep
    )
    merges: list[tuple[int, str, str, int]] = []
    # every currently-persisted frame, so a failure between nxt.persist()
    # and the sym = nxt handover can't strand a cached frame for the rest
    # of the session
    cached = [sym]
    checkpointed: set[int] = set()
    try:
        for rank in range(1, n_merges + 1):
            idx = F.sequence(F.lit(1), F.size("syms") - 1)
            pair_arr = F.when(
                F.size("syms") >= 2,
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("a"),
                        F.element_at("syms", i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            top = (
                sym.select(syms_col.alias("syms"), "cnt")
                .select(F.explode(pair_arr).alias("p"), "cnt")
                .groupBy("p")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), F.col("p.a"), F.col("p.b"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] <= 0:
                break
            a, b, c = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["c"])
            merges.append((rank, a, b, c))
            nxt = sym.select(
                F.replace(
                    F.col("repr"),
                    F.lit(sep + a + sep + sep + b + sep),
                    F.lit(sep + a + b + sep),
                ).alias("repr"),
                "cnt",
            )
            if checkpoint_every and rank % checkpoint_every == 0:
                # truncate the K-deep fuse-lambda plan chain; eager, so the
                # data is materialized before the old frame is released.
                # Once THIS checkpoint exists, the previous one has no live
                # dependents (everything between was unpersisted and the
                # new frame is materialized with truncated lineage) — drop
                # our reference so the ContextCleaner can free its blocks
                # (DataFrame.unpersist is a cache-manager no-op for
                # localCheckpoint storage; GC is the release path). At
                # production K~30k this caps live copies at one, not K/N.
                nxt = nxt.localCheckpoint(eager=True)
                cached = [df for df in cached if id(df) not in checkpointed]
                checkpointed.clear()
                cached.append(nxt)
                checkpointed.add(id(nxt))
            else:
                nxt = nxt.persist()
                cached.append(nxt)
                nxt.count()
            if sym in cached and id(sym) not in checkpointed:
                # the CURRENT checkpoint stays cached — persisted
                # descendants recompute through it on eviction, and a
                # truncated lineage cannot be replayed
                sym.unpersist()
                cached.remove(sym)
            sym = nxt
    finally:
        for df in cached:
            df.unpersist()
    return local_rows_df(
        spark, merges, "rank long, left string, right string, pair_count long"
    )


# --- leakage-safe (group-aware) train/val/test split --------------------------

_LEAKAGE_SPLIT_SQL = r"""
WITH keyed AS (
  SELECT doc_id, lang,
         array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2), ' ')
           AS content_key
  FROM documents
),
hashed AS (
  SELECT *,
         CAST(('0x' || substr(md5(content_key), 1, 4)) AS INTEGER) % 100 AS bucket
  FROM keyed
),
tagged AS (
  SELECT *, CASE WHEN bucket < 90 THEN 'train'
                 WHEN bucket < 95 THEN 'val'
                 ELSE 'test' END AS split
  FROM hashed
)
SELECT lang, split, count(*) AS n_docs,
       CAST(count(DISTINCT content_key) AS BIGINT) AS n_keys
FROM tagged GROUP BY lang, split
"""


def with_content_split(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Tag a docs frame with ``content_key`` (first-2-token fingerprint —
    the repo's stand-in content key; production: the md5 fingerprint) and
    the leakage-safe ``split`` derived from md5(content_key) — a pure
    MAP-SIDE expression, so the tag costs nothing at 100 TB. Shared by
    :func:`pipeline_leakage_safe_split` and the ``build_corpus`` funnel:
    docs with the same content key can never straddle train/eval."""
    keyed = d.withColumn(
        "content_key",
        F.concat_ws(" ", F.slice(tokens_expr(F.col(text_col)), 1, 2)),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("content_key").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    return keyed.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test"),
    )


@query("pipeline_leakage_safe_split", oracle=_LEAKAGE_SPLIT_SQL)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is a pure function of
    the CONTENT KEY, not the document id, so near-identical documents
    (same first-2-token fingerprint — the repo's stand-in content key) can
    never straddle train and eval. ``pipeline_train_val_split`` hashes
    doc_id, which is correct for iid rows but leaks when the corpus
    contains near-duplicates: the eval twin of a training document
    silently inflates the benchmark (why decontamination pipelines split
    by URL/content cluster, e.g. The Pile, arXiv:2101.00027 §4).

    The bucket is the first 16 bits of md5(content_key) mod 100 — md5 is
    identical in both engines (probed), so the oracle hash-pins the full
    assignment. The report carries per-(lang, split) doc AND distinct-key
    counts; split-disjointness of keys is pinned by pytest. Scale: the
    tag is map-side (hash of an in-row key), the report is one aggregate
    with a per-group distinct — same shapes as the plain split."""
    d = _t(spark, sf_dir, "documents")
    tagged = with_content_split(d)
    return tagged.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("content_key").alias("n_keys"),
    )


@query("text_bpe_apply", oracle=_BPE_APPLY_SQL)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the other half of tokenizer training:
    encode the corpus with the merge table ``text_bpe_merges`` learned,
    reporting per-document token counts before (characters) and after the
    merges, plus the realized compression. The learned merges are
    model-sized (K rows) driver data; applying them is one map-side
    rank-priority encoder (`bpe_apply_counts_plan`) — zero exchanges
    (asserted in tests/test_plans.py), and K only sizes a hash map, so the
    same plan serves production K~30k. The semantics (rank-ordered
    leftmost-first fusion) are defined twice outside this path: the DuckDB
    oracle's unrolled training replay and the pure-Python sequential
    encoder in tests/conftest.py. A document with no non-space characters
    reports NULL compression rather than dividing by zero."""
    d = _t(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right)
        for r in text_bpe_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    return bpe_apply_counts_plan(d, merges)


def _bpe_encode_len(word: str, ranks: dict) -> int:
    """Encode ONE word with a rank-priority BPE encoder and return its
    symbol count. Repeatedly fuses the present pair with the LOWEST merge
    rank (all occurrences, leftmost-first single scan) until no table
    pair remains — the GPT-2-family encoder shape, with the K merges in a
    hash map instead of K expression layers.

    Equivalence to sequential merge application (the oracle's replace()
    replay, py_bpe_merge in tests/conftest.py), proven not assumed: (1)
    for a LEARNED merge table every pair's constituent symbols are
    products of strictly earlier merges, so fusing rank r can only create
    pairs of rank > r — ranks are therefore visited in increasing order,
    exactly the sequential application; (2) one leftmost-first
    scan leaves no (a,b) adjacency behind (a surviving b must have been
    appended while the previous symbol was a — but then it would have
    fused), so fuse-once and fuse-to-exhaustion agree. Pinned against the
    sequential Python encoder on learned tables in
    tests/test_llm_properties.py and tests/test_llm_pipeline.py, and
    re-verified at K in the thousands by tools/bpe_bench.py.

    Round 10: heap + linked-list implementation (the tiktoken/SentencePiece
    shape) — O(len·log len + fusions·log len) instead of the previous
    full-rescan-per-fused-rank O(len²): natural-language words never felt
    the difference behind the per-batch memo, but a corpus of long
    unsegmented tokens (URLs, DNA, CJK runs) hits the quadratic head-on
    (tools/bpe_bench.py --long-tokens measures the decade). Heap entries
    are (rank, position, left, right); a popped entry is validated against
    the CURRENT symbols (symbols only ever grow at an index and deaths are
    permanent, so a stale entry can never re-validate) and the (rank, pos)
    order reproduces lowest-rank-then-leftmost exactly — for a learned
    table fusing rank r creates only pairs of rank > r, so this is the
    same fixpoint the scan encoder reached (its docstring proof)."""
    n = len(word)
    if n < 2:
        return n
    syms = list(word)
    nxt = list(range(1, n)) + [-1]
    prv = [-1] + list(range(n - 1))
    alive = [True] * n
    heap = []
    for i in range(n - 1):
        r = ranks.get((syms[i], syms[i + 1]))
        if r is not None:
            heap.append((r, i, syms[i], syms[i + 1]))
    heapq.heapify(heap)
    count = n
    while heap:
        _, i, a, b = heapq.heappop(heap)
        if not alive[i] or syms[i] != a:
            continue
        j = nxt[i]
        if j == -1 or syms[j] != b:
            continue
        syms[i] = a + b
        alive[j] = False
        nxt[i] = nxt[j]
        if nxt[i] != -1:
            prv[nxt[i]] = i
        count -= 1
        p = prv[i]
        if p != -1:
            rr = ranks.get((syms[p], syms[i]))
            if rr is not None:
                heapq.heappush(heap, (rr, p, syms[p], syms[i]))
        k = nxt[i]
        if k != -1:
            rr = ranks.get((syms[i], syms[k]))
            if rr is not None:
                heapq.heappush(heap, (rr, i, syms[i], syms[k]))
    return count


def bpe_apply_counts_plan(
    d: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """BPE application (text_bpe_apply's plan, factored so
    tools/bpe_bench.py and tests can run it at any K): per-document
    (chars, bpe_tokens, compression) with the K learned merges applied by
    ONE Arrow-batched pandas UDF. K only sizes a hash map shipped with the
    UDF, so the plan is one projection regardless of K — no K expression
    layers to plan at production K~30k — and zero exchanges (map-only).

    Per batch the encoder memoizes word -> symbol count, so compute is
    vocab-grain per partition (the word-frequency trick at apply time);
    the per-word encoder is `_bpe_encode_len` (rank-priority fusion,
    proven equivalent to the sequential chain in its docstring). NULL
    text reports 0 chars / 0 tokens / NULL compression, matching the
    oracle's LEFT JOIN + coalesce."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}

    @pandas_udf("long")
    def _bpe_count(words: pd.Series) -> pd.Series:
        import numpy as np

        cache: dict[str, int] = {}
        out = np.zeros(len(words), dtype=np.int64)
        for i, arr in enumerate(words):
            if arr is None:
                continue
            tot = 0
            for w in arr:
                n = cache.get(w)
                if n is None:
                    n = _bpe_encode_len(w, ranks)
                    cache[w] = n
                tot += n
            out[i] = tot
        return pd.Series(out)

    words = F.coalesce(
        F.filter(tokens_expr(F.col(text_col)), lambda w: w != ""),
        F.array().cast("array<string>"),
    )
    counted = d.select(
        "doc_id",
        F.aggregate(
            F.transform(words, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("chars"),
        _bpe_count(words).alias("bpe_tokens"),
    )
    return counted.select(
        "doc_id", "chars", "bpe_tokens",
        F.when(
            F.col("chars") > 0, F.expr("(1000 * bpe_tokens) div chars")
        ).alias("compression_per_mille"),
    )


_DSIR_B = 1024  # hashed n-gram feature buckets
_DSIR_TARGET_LANG = "de"

_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % {_DSIR_B} AS bucket
  FROM (
    SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
  )
),
bstats AS (
  SELECT bucket,
         count(*) AS sc,
         count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS tc
  FROM toks GROUP BY bucket
),
tot AS (
  SELECT sum(sc) AS s_total, sum(tc) AS t_total FROM bstats
),
logw AS (
  SELECT bucket,
         ln((tc + 1.0) / (t_total + {_DSIR_B})) - ln((sc + 1.0) / (s_total + {_DSIR_B}))
           AS w
  FROM bstats, tot
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(round(sum(w) * 1e6) AS BIGINT) AS logw_micros,
       CAST(round(avg(w) * 1e6) AS BIGINT) AS avg_logw_micros
FROM toks t JOIN logw USING (bucket)
GROUP BY t.doc_id
"""


@query("pipeline_dsir_weights", oracle=_DSIR_SQL)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for domain-targeted data selection
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling", arXiv:2302.03169): estimate log P_target(x)/P_raw(x)
    per document under a hashed unigram feature model, the score a
    curation pipeline resamples against to tilt a web-scale corpus
    toward a target domain (here: the '{target}' slice of the corpus
    stands in for the target distribution).

    Mechanics: tokens hash into B={b} buckets (first 16 bits of md5 mod
    B — the engine-portable hash, same as pipeline_leakage_safe_split);
    one aggregation computes source AND target bucket counts as
    conditional sums (never two corpus passes); add-one smoothing gives
    per-bucket log ratios; each document's log-weight is the sum over
    its tokens, reported in integer micros (libm ln and double
    summation order differ between engines only at ~1e-13 absolute —
    micros rounding makes the cross-engine compare exact, the shared
    integer-scaling discipline).

    Scale shape: the bucket stats table is B rows — broadcast to the
    per-token join by construction; totals come from a 1-row aggregate
    cross-joined (broadcast) rather than a driver collect, so the whole
    query is one linear plan: explode → one count aggregation → B-row
    broadcast join → doc-grain aggregation. At 100 TB the explode
    dominates and is map-side; no shuffle carries more than
    (docs × distinct-buckets-per-doc) rows."""
    d = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(tokens_expr(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 4), 16, 10)
            .cast("long")
            % _DSIR_B
        ).alias("bucket"),
    )
    bstats = toks.groupBy("bucket").agg(
        F.count("*").alias("sc"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("tc"),
    )
    tot = bstats.agg(
        F.sum("sc").alias("s_total"), F.sum("tc").alias("t_total")
    )
    logw = bstats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("tc") + 1.0) / (F.col("t_total") + _DSIR_B))
            - F.log((F.col("sc") + 1.0) / (F.col("s_total") + _DSIR_B))
        ).alias("w"),
    )
    return (
        toks.join(F.broadcast(logw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("w") * 1e6).cast("bigint").alias("logw_micros"),
            F.round(F.avg("w") * 1e6).cast("bigint").alias("avg_logw_micros"),
        )
    )


pipeline_dsir_weights.__doc__ = pipeline_dsir_weights.__doc__.format(
    target=_DSIR_TARGET_LANG, b=_DSIR_B
)


# --- interpolated Kneser-Ney bigram scoring (integer-exact) -------------------

_KN_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
bi AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
),
c2 AS (
  SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         count(*) AS cg
  FROM bi GROUP BY 1, 2, 3
),
heads AS (
  SELECT w1, sum(cg) AS cw, count(*) AS n1f FROM c2 GROUP BY w1
),
tails AS (
  SELECT w2, count(*) AS n1b FROM c2 GROUP BY w2
),
nd AS (SELECT count(*) AS nd FROM c2),
feats AS (
  SELECT c2.g,
         CAST((1000000 * (greatest(4 * c2.cg - 3, 0)::HUGEINT * nd.nd
                          + 3 * heads.n1f::HUGEINT * tails.n1b))
           // (4 * heads.cw::HUGEINT * nd.nd) AS BIGINT) AS pts
  FROM c2 JOIN heads USING (w1) JOIN tails USING (w2), nd
)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(pts) AS BIGINT) AS kn_sum,
       CAST(sum(pts) // count(*) AS BIGINT) AS kn_mean
FROM bi b JOIN feats USING (g)
GROUP BY b.doc_id
"""


def _kn_hashed_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2): one row per bigram OCCURRENCE with the two words
    as 64-bit xxhash64 token ids — the round-12 shuffle-volume fix
    (verdict-r11 task 4). Bigrams previously shuffled as concatenated
    strings through every aggregate and the final scoring join; here each
    token is hashed ONCE map-side (n hashes/doc, vs 3 string ops per
    bigram for the concat+split_part spelling) and every downstream
    shuffle key is a fixed-width (long, long) pair — smaller rows, cheaper
    hashing/sorting, and no UTF8String comparisons in the sort-merge
    joins. The (w1, w2) id pair stands in for the bigram string exactly as
    _hashed_sets' ids stand in for shingles: whitespace tokenization means
    token↔id is a bijection up to the xxhash64 collision bound (~V²/2⁶⁵ —
    ≈1e-9 even at a 10⁶ vocab), a collision can only merge two token
    types, and the per-round DuckDB oracle (which keys on the STRINGS)
    re-proves exact equality at both pinned SFs."""
    th = F.transform(tokens_expr(F.col("text")), lambda w: F.xxhash64(w))
    d = d.select("doc_id", th.alias("th"))
    n1 = F.greatest(F.size("th") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("th", F.lit(1), n1),
        F.slice("th", F.lit(2), n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def _kn_lm_frames(bi: DataFrame) -> dict[str, DataFrame]:
    """Kneser-Ney LM sufficient statistics from a bigram-occurrence frame:
    c2 (bigram type counts), heads (cw = c(w1,·), n1f = N1+(w1,·)),
    tails (n1b = N1+(·,w2)), nd (N_types, 1 row). heads/tails/nd are
    re-aggregations of c2 — one corpus scan total. This is the LM
    *estimation* half of the CCNet split (verdict-r11 task 1): everything
    a scorer needs, estimable once from a reference corpus and persistable
    via kn_write_lm."""
    return _kn_lm_from_c2(
        bi.groupBy("w1", "w2").agg(F.count("*").alias("cg"))
    )


def _kn_lm_from_c2(c2: DataFrame) -> dict[str, DataFrame]:
    """_kn_lm_frames from an existing (possibly persisted) c2 frame —
    heads/tails/nd are re-aggregations of c2, and this is the ONE place
    that derivation lives (kn_write_lm persists c2 first so the three
    re-aggregations and the parquet write all read the cache)."""
    heads = c2.groupBy("w1").agg(
        F.sum("cg").alias("cw"), F.count("*").alias("n1f")
    )
    tails = c2.groupBy("w2").agg(F.count("*").alias("n1b"))
    nd = c2.agg(F.count("*").alias("nd"))
    return {"c2": c2, "heads": heads, "tails": tails, "nd": nd}


# Per-occurrence KN score in integer micros, with unseen-bigram backoff:
# coalesce(cg→0) gives the pure continuation term for a bigram the LM
# never saw; coalesce(n1b→0) zeroes it when the TAIL word is unknown; a
# NULL head (cw/n1f unknown — w1 not in the LM) nulls the division and the
# outer coalesce maps it to 0, the unknown-word floor. For a
# self-estimated LM every bigram is seen and this reduces bit-exactly to
# the seen-only formula.
_KN_PTS_EXPR = (
    "coalesce(cast((1000000 * (greatest(4 * coalesce(cg, 0L) - 3, 0L)"
    " * cast(nd as decimal(38,0))"
    " + 3 * n1f * cast(coalesce(n1b, 0L) as decimal(38,0))))"
    " div (4 * cw * cast(nd as decimal(38,0))) as bigint), 0L)"
)


def _kn_score(bi: DataFrame, lm: dict[str, DataFrame]) -> DataFrame:
    """Score a bigram-occurrence frame against FIXED LM statistics — the
    map-shaped scoring half of the CCNet split: three keyed joins against
    the (corpus-independent) LM tables plus a 1-row nd broadcast, then
    one doc-grain aggregate. No LM estimation happens here; unseen
    bigrams take the backoff in _KN_PTS_EXPR. Returns
    (doc_id, n_bigrams, kn_sum, kn_mean) over ALL the corpus's bigram
    occurrences (seen or not)."""
    j = (
        bi.join(lm["c2"], ["w1", "w2"], "left")
        .join(lm["heads"], "w1", "left")
        .join(lm["tails"], "w2", "left")
        .crossJoin(F.broadcast(lm["nd"]))
    )
    return j.select("doc_id", F.expr(_KN_PTS_EXPR).alias("pts")).groupBy(
        "doc_id"
    ).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("pts").alias("kn_sum"),
        F.expr("sum(pts) div count(*)").alias("kn_mean"),
    )


@query("text_kneser_ney_bigram", oracle=_KN_SQL)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    Goodman 1999) — the real LM-quality scorer behind KenLM-style corpus
    filters, one smoothing step past text_bigram_fluency's raw MLE:

        P_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1,.)
                      + D . N1+(w1,.)/c(w1,.) . N1+(.,w2)/N_types

    with absolute discount D = 3/4, continuation probability from
    distinct-HISTORY counts (the insight that makes 'Francisco' unlikely
    outside 'San'). Integer-exact on purpose: with D = 3/4 every term is
    a ratio of integers, so each bigram occurrence scores

        1e6 . (max(4c-3,0).ND + 3.N1f.N1b) div (4.cw.ND)

    — exact integer arithmetic, bit-identical across engines and
    partition layouts (the log-prob spelling would hash-flake). Round 10:
    the intermediate products run in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) — the old pure-int64 spelling's 1e6·4c·ND needed c·ND <
    2.3e12 and the 500 K-doc decade run hit that wall for real
    (ARITHMETIC_OVERFLOW at ND ≈ 4×10⁷ bigram types; SCALE.md round-10
    table). Same formula, same truncating division on positive values,
    so every value the int64 form could produce is unchanged — verified
    by the unchanged oracle hash at sf0.01.

    Scale shape (inherits text_bigram_fluency's discipline): the bigram
    TYPE table c2 is aggregated once; head stats (cw, N1f) and tail
    stats (N1b) are re-aggregations of c2, never extra corpus scans; ND
    is a 1-row broadcast; all features attach through ONE stream-sized
    join with no forced broadcasts (AQE decides — a web-scale bigram
    table outgrows the vocab). Round 12 (verdict-r11 task 4): every
    shuffle and join keys on 64-bit xxhash64 TOKEN IDS instead of bigram
    strings (_kn_hashed_bigrams) — same aggregates, same integer-exact
    values (oracle re-proven unchanged at sf0.01 and sf0.1), with
    fixed-width shuffle rows in place of UTF8String keys."""
    d = _t(spark, sf_dir, "documents")
    bi = _kn_hashed_bigrams(d)
    lm = _kn_lm_frames(bi)
    feats = (
        lm["c2"]
        .join(lm["heads"], "w1")
        .join(lm["tails"], "w2")
        .crossJoin(F.broadcast(lm["nd"]))
        # every bigram type is seen here, so _KN_PTS_EXPR's backoff
        # coalesces never fire
        .select("w1", "w2", F.expr(_KN_PTS_EXPR).alias("pts"))
    )
    scored = bi.join(feats, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("pts").alias("kn_sum"),
        F.expr("sum(pts) div count(*)").alias("kn_mean"),
    )


# --- CCNet-style per-language perplexity buckets -------------------------------

_PPL_B = 3  # head / middle / tail

_PPL_BUCKETS_SQL = f"""
WITH kn AS ({_KN_SQL}),
scored AS (
  SELECT d.doc_id, d.lang, kn.kn_mean
  FROM documents d JOIN kn ON d.doc_id = kn.doc_id
),
hist AS (
  SELECT lang, kn_mean, count(*) AS c
  FROM scored GROUP BY lang, kn_mean
),
cum AS (
  SELECT lang, kn_mean, c,
         sum(c) OVER (PARTITION BY lang ORDER BY kn_mean) AS cc,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
buck AS (
  SELECT lang, kn_mean,
         CAST(CASE WHEN cc <= (n % {_PPL_B}) * (n // {_PPL_B} + 1)
              THEN (cc - 1) // (n // {_PPL_B} + 1) + 1
              ELSE (n % {_PPL_B})
                + (cc - (n % {_PPL_B}) * (n // {_PPL_B} + 1) - 1)
                  // (n // {_PPL_B}) + 1 END AS BIGINT) AS ppl_bucket
  FROM cum
)
SELECT s.doc_id, s.lang, s.kn_mean, b.ppl_bucket,
       CAST(b.ppl_bucket < {_PPL_B} AS BOOLEAN) AS kept
FROM scored s JOIN buck b ON s.lang = b.lang AND s.kn_mean = b.kn_mean
"""


@query("pipeline_perplexity_buckets", oracle=_PPL_BUCKETS_SQL)
def pipeline_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359: split each language's corpus into head/middle/tail
    by LM perplexity; keep head+middle, drop tail). The LM is the
    registered integer-exact Kneser-Ney scorer; note kn_mean is a
    PROBABILITY scale, so the head (bucket {B}) is the HIGH end — ``kept``
    drops bucket 1, the lowest-fluency third.

    The scale problem this solves: per-language equi-depth thirds are
    usually spelled ``ntile({B}) OVER (PARTITION BY lang ORDER BY ppl)``
    — at 100 TB one language IS most of the corpus, so that window sorts
    nearly everything through one partition chain. Instead the buckets
    come from the per-(lang, score) HISTOGRAM: one corpus-grain agg
    builds it, a window over the HISTOGRAM GRAIN (bounded by distinct
    integer-micros scores per language, orders of magnitude below doc
    count — and further compressible by coarsening the score grid)
    produces cumulative counts, and exact ntile arithmetic (via
    ``functions/ranks.py::histogram_ntile_grouped`` — bit-identical to
    ``ntile({B})`` on tie-free data) assigns the bucket, which joins back
    to documents by (lang, score). Tie policy is deterministic: equal
    scores share a bucket (row-ntile splits ties arbitrarily —
    engine-dependent and hash-unstable); bucket boundaries shift by at
    most one tie-class vs row-ntile. Pure int64 arithmetic —
    bit-identical engines."""
    from vat_etl_spark.functions.ranks import histogram_ntile_grouped

    kn = QUERIES["text_kneser_ney_bigram"](spark, sf_dir).select(
        "doc_id", "kn_mean"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = docs.join(kn, "doc_id")
    bucketed = histogram_ntile_grouped(
        scored, ["lang"], "kn_mean", _PPL_B, out_col="ppl_bucket"
    )
    return bucketed.select(
        "doc_id", "lang", "kn_mean", "ppl_bucket",
        (F.col("ppl_bucket") < _PPL_B).alias("kept"),
    )


pipeline_perplexity_buckets.__doc__ = pipeline_perplexity_buckets.__doc__.format(
    B=_PPL_B
)


# --- CCNet fixed-LM split: estimate once, score map-shaped ---------------------

_KN_REF_MOD = 10
_KN_REF_K = 3  # reference corpus = docs with doc_id % 10 < 3 (~30%)

_KN_REF_PRED = f"doc_id % {_KN_REF_MOD} < {_KN_REF_K}"

# DuckDB twin of _KN_PTS_EXPR over string-keyed LM tables (c2/heads/tails
# aliased c, h, tl; nd in scope) — HUGEINT intermediates, same truncating
# division, same NULL→0 backoff routing.
_KN_PTS_SQL = """
    coalesce(CAST((1000000 * (greatest(4 * coalesce(c.cg, 0) - 3, 0)::HUGEINT
                              * nd.nd
                              + 3 * h.n1f::HUGEINT * coalesce(tl.n1b, 0)))
        // (4 * h.cw::HUGEINT * nd.nd) AS BIGINT), 0)
"""

_PPL_FIXED_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
big AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g,
         t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
),
refc2 AS (
  SELECT g, w1, w2, count(*) AS cg FROM big
  WHERE {_KN_REF_PRED} GROUP BY 1, 2, 3
),
heads AS (SELECT w1, sum(cg) AS cw, count(*) AS n1f FROM refc2 GROUP BY w1),
tails AS (SELECT w2, count(*) AS n1b FROM refc2 GROUP BY w2),
nd AS (SELECT count(*) AS nd FROM refc2),
occ AS (
  SELECT b.doc_id, {_KN_PTS_SQL} AS pts
  FROM big b
  LEFT JOIN refc2 c ON b.g = c.g
  LEFT JOIN heads h ON b.w1 = h.w1
  LEFT JOIN tails tl ON b.w2 = tl.w2, nd
),
scored AS (
  SELECT o.doc_id, d.lang, CAST(sum(o.pts) // count(*) AS BIGINT) AS kn_mean
  FROM occ o JOIN documents d ON o.doc_id = d.doc_id
  GROUP BY o.doc_id, d.lang
),
hist AS (
  SELECT lang, kn_mean, count(*) AS c
  FROM scored WHERE {_KN_REF_PRED} GROUP BY lang, kn_mean
),
cum AS (
  SELECT lang, kn_mean, c,
         sum(c) OVER (PARTITION BY lang ORDER BY kn_mean) AS cc,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
buck AS (
  SELECT lang, kn_mean,
         CAST(CASE WHEN cc <= (n % {_PPL_B}) * (n // {_PPL_B} + 1)
              THEN (cc - 1) // (n // {_PPL_B} + 1) + 1
              ELSE (n % {_PPL_B})
                + (cc - (n % {_PPL_B}) * (n // {_PPL_B} + 1) - 1)
                  // (n // {_PPL_B}) + 1 END AS BIGINT) AS ppl_bucket
  FROM cum
),
th AS (
  SELECT lang,
         max(CASE WHEN ppl_bucket = 1 THEN kn_mean END) AS hi1,
         max(CASE WHEN ppl_bucket = 2 THEN kn_mean END) AS hi2
  FROM buck GROUP BY lang
)
SELECT s.doc_id, s.lang, s.kn_mean,
  CAST(CASE WHEN s.kn_mean <= th.hi1 THEN 1
            WHEN s.kn_mean <= th.hi2 THEN 2
            ELSE {_PPL_B} END AS BIGINT) AS ppl_bucket,
  (CASE WHEN s.kn_mean <= th.hi1 THEN 1
        WHEN s.kn_mean <= th.hi2 THEN 2
        ELSE {_PPL_B} END) < {_PPL_B} AS kept
FROM scored s LEFT JOIN th ON s.lang = th.lang
"""


def _kn_thresholds(scored_ref: DataFrame) -> DataFrame:
    """(lang, hi1, hi2): CCNet bucket cutoffs from a REFERENCE corpus's
    score distribution — per-(lang, kn_mean) histogram ntile (the same
    scale-safe construction pipeline_perplexity_buckets uses), reduced to
    the per-bucket max score. Because equal scores always share a bucket,
    ``score <= hi_b`` reproduces the histogram-ntile bucket bit-exactly
    for every reference doc, and assigns NEW scores to the first bucket
    whose cutoff covers them (ties-share-bucket interpolation)."""
    from vat_etl_spark.functions.ranks import histogram_ntile_grouped

    bucketed = histogram_ntile_grouped(
        scored_ref, ["lang"], "kn_mean", _PPL_B, out_col="ppl_bucket"
    )
    return bucketed.groupBy("lang").agg(
        F.max(F.when(F.col("ppl_bucket") == 1, F.col("kn_mean"))).alias("hi1"),
        F.max(F.when(F.col("ppl_bucket") == 2, F.col("kn_mean"))).alias("hi2"),
    )


def _kn_bucket_assign(scored: DataFrame, th: DataFrame) -> DataFrame:
    """Assign CCNet buckets to (doc_id, lang, kn_mean) rows from a FIXED
    (lang, hi1, hi2) threshold table — map-shaped: one broadcast join on
    lang (the table is one row per language) plus a CASE. Docs of a
    language absent from the reference fall through to the tail bucket
    (dropped) — conservative and deterministic in both engines (NULL
    comparisons are never TRUE)."""
    b = (
        F.when(F.col("kn_mean") <= F.col("hi1"), F.lit(1))
        .when(F.col("kn_mean") <= F.col("hi2"), F.lit(2))
        .otherwise(F.lit(_PPL_B))
        .cast("bigint")
    )
    return (
        scored.join(F.broadcast(th), "lang", "left")
        .select(
            "doc_id",
            "lang",
            "kn_mean",
            b.alias("ppl_bucket"),
            (b < _PPL_B).alias("kept"),
        )
    )


@query("pipeline_perplexity_fixed_lm", oracle=_PPL_FIXED_SQL)
def pipeline_perplexity_fixed_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing with the LM *estimation* split from the
    *scoring* (Wenzek et al. 2020, arXiv:1911.00359 — verdict-r11 task 1):
    the Kneser-Ney LM and the per-language bucket cutoffs come from a
    FIXED reference corpus (here the deterministic ~30% slice
    ``{pred}``), and the whole corpus is then scored map-shaped against
    those fixed statistics — three keyed joins + a broadcast threshold
    CASE, no corpus-wide re-estimation. Bigrams the reference never saw
    take the KN continuation backoff (cg=0); bigrams with an unknown head
    word score 0 (_KN_PTS_EXPR). This is the production funnel shape: the
    LM is estimated once (kn_write_lm) and every nightly build scores
    against it, instead of re-deriving the LM from the full input corpus
    per build. The registered form keeps the LM in-plan (no disk) so the
    DuckDB twin can re-prove the whole path — including the backoff
    arithmetic and the fixed-threshold bucket assignment — exactly."""
    d = _t(spark, sf_dir, "documents")
    # persist convention (round-13 ADVICE): registered queries return a
    # LAZY plan — no action runs inside this function, so there is no
    # point at which an unpersist would be safe (the caller's action is
    # what materializes the cache). These MEMORY_AND_DISK entries are
    # intentionally left to Spark's LRU eviction; eager tools that DO run
    # actions (kn_write_lm, the funnel builders) unpersist explicitly.
    bi = _kn_hashed_bigrams(d).persist()
    ref_bi = bi.filter(F.expr(_KN_REF_PRED))
    lm = _kn_lm_frames(ref_bi)
    scored = (
        _kn_score(bi, lm).join(d.select("doc_id", "lang"), "doc_id").persist()
    )
    th = _kn_thresholds(
        scored.filter(F.expr(_KN_REF_PRED)).select("lang", "kn_mean")
    )
    return _kn_bucket_assign(scored, th)


pipeline_perplexity_fixed_lm.__doc__ = pipeline_perplexity_fixed_lm.__doc__.format(
    pred=_KN_REF_PRED
)


def kn_write_lm(
    spark: SparkSession, sf_dir: str, lm_dir: str, where: str | None = None
) -> dict:
    """Estimate the Kneser-Ney LM and the per-language CCNet bucket
    thresholds ONCE from a reference corpus and persist them under
    ``lm_dir`` (c2/heads/tails/nd/thresholds parquet) — the train-once
    half of CCNet's design. ``where`` optionally restricts the reference
    (SQL predicate over documents). Every table is keyed by the same
    xxhash64 token ids _kn_hashed_bigrams produces, so a persisted LM is
    portable across corpora and builds on any cluster."""
    d = _t(spark, sf_dir, "documents")
    if where:
        d = d.filter(where)
    bi = _kn_hashed_bigrams(d).persist()
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("cg")).persist()
    lm = _kn_lm_from_c2(c2)
    for name in ("c2", "heads", "tails", "nd"):
        lm[name].write.mode("overwrite").parquet(f"{lm_dir}/{name}")
    scored = _kn_score(bi, lm).join(d.select("doc_id", "lang"), "doc_id")
    th = _kn_thresholds(scored.select("lang", "kn_mean"))
    th.write.mode("overwrite").parquet(f"{lm_dir}/thresholds")
    out = {
        "lm_dir": lm_dir,
        "ref_docs": d.count(),
        "bigram_types": c2.count(),
    }
    bi.unpersist()
    c2.unpersist()
    return out


def kn_load_lm(spark: SparkSession, lm_dir: str) -> dict[str, DataFrame]:
    """Load a persisted KN LM (kn_write_lm output) for _kn_score /
    _kn_bucket_assign."""
    return {
        name: spark.read.parquet(f"{lm_dir}/{name}")
        for name in ("c2", "heads", "tails", "nd", "thresholds")
    }


def kn_ppl_kept_fixed(
    spark: SparkSession, docs: DataFrame, lm: dict[str, DataFrame]
) -> DataFrame:
    """The funnel's fixed-LM perplexity keep set: score ``docs`` against a
    persisted LM and keep head+middle per the LM's stored thresholds.
    Scoring is three keyed joins against corpus-independent tables plus a
    broadcast CASE — the conceptually-cheap gate finally has the cheap
    shape (no per-build LM re-estimation)."""
    scored = _kn_score(_kn_hashed_bigrams(docs), lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        _kn_bucket_assign(scored, lm["thresholds"])
        .filter(F.col("kept"))
        .select("doc_id")
    )


# --- fastText-style hashed linear quality classifier --------------------------

_QC_B = 4096  # hashed feature buckets (the model's weight-vector length)

_QC_WCACHE: list[int] | None = None


def _qc_weights() -> list[int]:
    """The bucket→weight table (the md5 definition of _qc_weight_spark,
    evaluated once driver-side via hashlib): weight = first 16 md5 bits of
    the bucket's decimal string mod 2001. Shipped into the plan as one
    constant-folded literal array — the production broadcast-weights
    shape — instead of re-hashing per feature per row."""
    global _QC_WCACHE
    if _QC_WCACHE is None:
        import hashlib

        _QC_WCACHE = [
            int(hashlib.md5(str(b).encode()).hexdigest()[:4], 16) % 2001
            for b in range(_QC_B)
        ]
    return _QC_WCACHE


def _qc_weight_spark(f: str) -> str:
    """Spark-SQL text for the bucket weight of feature expression ``f``:
    bucket = first 16 md5 bits mod B, weight = first 16 md5 bits of the
    bucket's decimal string mod 2001 (a deterministic stand-in for a
    trained weight vector — see the query docstring)."""
    b = (
        f"cast(conv(substr(md5(cast({f} as binary)), 1, 4), 16, 10) as bigint)"
        f" % {_QC_B}"
    )
    return (
        f"cast(conv(substr(md5(cast(cast(({b}) as string) as binary)), 1, 4),"
        f" 16, 10) as bigint) % 2001"
    )


def _qc_weight_duck(f: str) -> str:
    """DuckDB twin of :func:`_qc_weight_spark`."""
    b = f"CAST(('0x' || substr(md5({f}), 1, 4)) AS INTEGER) % {_QC_B}"
    return (
        f"CAST(('0x' || substr(md5(CAST(({b}) AS VARCHAR)), 1, 4)) AS INTEGER)"
        f" % 2001"
    )


_QC_SQL = rf"""
WITH feats AS (
  SELECT doc_id, lang, source,
         list_concat(t, {_ngrams_sql(2).replace("' '", "'_'")}) AS fs
  FROM (SELECT doc_id, lang, source,
               regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
),
scored AS (
  SELECT doc_id, lang, source,
         CAST(len(fs) AS BIGINT) AS n_feat,
         CAST(list_sum(list_transform(fs, f -> {_qc_weight_duck('f')}))
              AS BIGINT) AS score_sum
  FROM feats
)
SELECT doc_id, lang, source, n_feat, score_sum,
       CAST((1000 * score_sum) // n_feat AS BIGINT) AS mean_milli,
       CASE WHEN (1000 * score_sum) // n_feat >= 1000000
            THEN 'keep' ELSE 'drop' END AS label
FROM scored
"""


@query("pipeline_quality_classifier", oracle=_QC_SQL)
def pipeline_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier (Joulin et al.
    2016, arXiv:1607.01759 — the model class behind the CCNet and
    RefinedWeb/LLaMA quality filters): each document's bag of unigram +
    word-bigram features hashes into B={b} weight buckets, the bucket
    weights are summed and length-normalized, and the mean scores
    against a threshold to a keep/drop label.

    The weight vector here is derived deterministically from the bucket
    id (16 md5 bits mod 2001, i.e. uniform on [0, 2000]) — a stand-in
    for trained parameters so both engines and the pure-Python pytest
    twin score bit-identically. In production the trained B-float array
    replaces it as one broadcast literal/array lookup — the plan shape
    (and this query's point) is unchanged: classifier inference is a
    MAP-ONLY pass, the cheapest possible 100 TB shape.

    Scale shape: zero shuffles, zero joins, zero UDFs — tokenize,
    feature-expand (unigrams + '_'-joined bigrams, the fastText n-gram
    trick), hash, and sum all happen inside one whole-stage-codegen
    projection per row; the scan is the entire cost, and the label
    column is exactly what a curation pipeline writes back or filters
    on. Integer arithmetic end-to-end (bucket, weight, milli-mean) —
    bit-identical between Spark, DuckDB, and hashlib."""
    return classifier_label_plan(_t(spark, sf_dir, "documents"))


def classifier_label_plan(d: DataFrame) -> DataFrame:
    """The map-only classifier-inference plan over an arbitrary docs frame
    (needs ``doc_id``, ``lang``, ``source``, ``text``) — the shared core
    of :func:`pipeline_quality_classifier` and the ``build_corpus``
    funnel stage. Empty/whitespace-only docs are excluded (no features to
    score). One row per scorable doc with a keep/drop ``label``.

    Two measured hot-path rules (sf0.1: 6.1 s → 1.3 s):
    - tokens materialize into a COLUMN before the bigram lambda touches
      them — a lambda referencing the raw split() EXPRESSION re-evaluates
      the split per element reference, turning tokenization O(len²)
      (measured 5.1 s of the 6.1 s);
    - the weight half of the hash chain is a 4096-long LITERAL array
      (constant-folded once, indexed per feature) instead of a second
      md5+conv per feature — this is exactly the docstring's production
      shape, where the trained weight vector ships as one broadcast
      array. Values are bit-identical to the md5 definition (pinned by
      the unchanged oracle)."""
    d = d.where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    base = d.select(
        "doc_id", "lang", "source", tokens_expr(F.col("text")).alias("t")
    )
    toks = F.col("t")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws("_", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    warr = "array(" + ",".join(f"{w}L" for w in _qc_weights()) + ")"
    bucket = (
        f"cast(conv(substr(md5(cast(f as binary)), 1, 4), 16, 10) as bigint)"
        f" % {_QC_B}"
    )
    scored = base.select(
        "doc_id", "lang", "source",
        F.concat(toks, bigrams).alias("fs"),
    ).select(
        "doc_id", "lang", "source",
        F.size("fs").cast("bigint").alias("n_feat"),
        F.expr(
            f"aggregate(fs, 0L, (acc, f) -> acc +"
            f" element_at({warr}, cast(({bucket}) as int) + 1))"
        ).alias("score_sum"),
    )
    return scored.select(
        "doc_id", "lang", "source", "n_feat", "score_sum",
        F.expr("(1000 * score_sum) div n_feat").alias("mean_milli"),
        F.when(
            F.expr("(1000 * score_sum) div n_feat") >= 1_000_000, "keep"
        ).otherwise("drop").alias("label"),
    )


pipeline_quality_classifier.__doc__ = pipeline_quality_classifier.__doc__.format(
    b=_QC_B
)


# --- quality-filter agreement analysis (Cohen's kappa, integer-exact) ----------
#
# The oracle composes the three filters' REGISTERED oracle texts as
# subqueries, so the agreement analysis can never drift from the filters
# it audits. Kappa is computed as an exact integer rational scaled to
# micros: po = agree/n, pe = (a1*b1 + a0*b0)/n², so
# kappa = (n*agree - (a1*b1+a0*b0)) / (n² - (a1*b1+a0*b0)) — numerator and
# denominator are int64; both engines truncate integer division toward
# zero (probed), so the micros column is bit-identical.


def _kappa_sql(pair: str, a1: str, b1: str, agree: str) -> str:
    num = f"(s.n * {agree} - ({a1} * {b1} + (s.n - {a1}) * (s.n - {b1})))"
    den = f"(s.n * s.n - ({a1} * {b1} + (s.n - {a1}) * (s.n - {b1})))"
    return (
        f"SELECT '{pair}' AS pair, s.n AS n_docs, {agree} AS n_agree,"
        f" CAST((1000 * {agree}) // s.n AS BIGINT) AS agree_millis,"
        f" CAST(CASE WHEN {den} = 0 THEN 1000000"
        f" ELSE (1000000 * {num}) // {den} END AS BIGINT) AS kappa_micros"
        f" FROM s"
    )


def _build_agreement_sql() -> str:
    from vat_etl_spark.queries import ORACLE_SQL

    g_sql = ORACLE_SQL["pipeline_quality_gopher"]
    c_sql = ORACLE_SQL["pipeline_quality_classifier"]
    p_sql = ORACLE_SQL["pipeline_perplexity_buckets"]
    return f"""
WITH g AS (SELECT doc_id, passes AS g FROM ({g_sql}) t),
c AS (SELECT doc_id, (label = 'keep') AS c FROM ({c_sql}) t),
p AS (SELECT doc_id, kept AS p FROM ({p_sql}) t),
j AS (
  SELECT g.doc_id, g.g, c.c, p.p
  FROM g JOIN c ON g.doc_id = c.doc_id JOIN p ON g.doc_id = p.doc_id
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS g1,
         CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         CAST(sum(CASE WHEN g = c THEN 1 ELSE 0 END) AS BIGINT) AS gc,
         CAST(sum(CASE WHEN g = p THEN 1 ELSE 0 END) AS BIGINT) AS gp,
         CAST(sum(CASE WHEN c = p THEN 1 ELSE 0 END) AS BIGINT) AS cp
  FROM j
)
{_kappa_sql("gopher~classifier", "s.g1", "s.c1", "s.gc")}
UNION ALL
{_kappa_sql("gopher~perplexity", "s.g1", "s.p1", "s.gp")}
UNION ALL
{_kappa_sql("classifier~perplexity", "s.c1", "s.p1", "s.cp")}
"""


_AGREEMENT_SQL = _build_agreement_sql()


@query("quality_filter_agreement", oracle=_AGREEMENT_SQL)
def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter AGREEMENT analysis: for each pair of the three
    quality filters (Gopher rules, hashed classifier, CCNet perplexity
    thirds), the observed agreement rate and Cohen's kappa — the standard
    audit of whether stacked filters measure the same thing (kappa ≈ 1:
    one filter is redundant; ≈ 0: independent signals, stacking is
    multiplicative; < 0: they actively disagree and the funnel order
    matters). The funnel in build_corpus stacks all three, so this is the
    analysis that justifies (or prunes) its stages.

    Scale shape: three filter subplans (each already a registered,
    plan-audited query), one 3-way doc_id join, ONE aggregate row, and a
    3-row projection — the analysis adds nothing corpus-scaled beyond
    the filters themselves. Kappa is an exact int64 rational scaled to
    micros (truncation toward zero probed identical in both engines), so
    the driver hash-pins the statistic bit-for-bit."""
    g = QUERIES["pipeline_quality_gopher"](spark, sf_dir).select(
        "doc_id", F.col("passes").alias("g")
    )
    c = QUERIES["pipeline_quality_classifier"](spark, sf_dir).select(
        "doc_id", (F.col("label") == "keep").alias("c")
    )
    p = QUERIES["pipeline_perplexity_buckets"](spark, sf_dir).select(
        "doc_id", F.col("kept").alias("p")
    )
    j = g.join(c, "doc_id").join(p, "doc_id")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("g").cast("long")).alias("g1"),
        F.sum(F.col("c").cast("long")).alias("c1"),
        F.sum(F.col("p").cast("long")).alias("p1"),
        F.sum((F.col("g") == F.col("c")).cast("long")).alias("gc"),
        F.sum((F.col("g") == F.col("p")).cast("long")).alias("gp"),
        F.sum((F.col("c") == F.col("p")).cast("long")).alias("cp"),
    )

    def row(pair: str, a1: str, b1: str, agree: str):
        num = f"(n * {agree} - ({a1} * {b1} + (n - {a1}) * (n - {b1})))"
        den = f"(n * n - ({a1} * {b1} + (n - {a1}) * (n - {b1})))"
        return s.select(
            F.lit(pair).alias("pair"),
            F.col("n").alias("n_docs"),
            F.col(agree).alias("n_agree"),
            F.expr(f"(1000 * {agree}) div n").cast("long").alias("agree_millis"),
            F.expr(
                f"CASE WHEN {den} = 0 THEN 1000000"
                f" ELSE (1000000 * {num}) div {den} END"
            ).cast("long").alias("kappa_micros"),
        )

    return (
        row("gopher~classifier", "g1", "c1", "gc")
        .unionByName(row("gopher~perplexity", "g1", "p1", "gp"))
        .unionByName(row("classifier~perplexity", "c1", "p1", "cp"))
    )


def _build_contingency_sql() -> str:
    from vat_etl_spark.queries import ORACLE_SQL

    g_sql = ORACLE_SQL["pipeline_quality_gopher"]
    c_sql = ORACLE_SQL["pipeline_quality_classifier"]
    p_sql = ORACLE_SQL["pipeline_perplexity_buckets"]
    return f"""
WITH g AS (SELECT doc_id, passes AS g FROM ({g_sql}) t),
c AS (SELECT doc_id, (label = 'keep') AS c FROM ({c_sql}) t),
p AS (SELECT doc_id, kept AS p FROM ({p_sql}) t),
j AS (
  SELECT g.g, c.c, p.p, (g.g AND c.c AND p.p) AS kept_all
  FROM g JOIN c ON g.doc_id = c.doc_id JOIN p ON g.doc_id = p.doc_id
),
cells AS (
  SELECT g AS gopher, c AS classifier, p AS perplexity,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN kept_all THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM j GROUP BY g, c, p
)
SELECT gopher, classifier, perplexity, n_docs, n_kept,
       CAST((1000 * n_docs) // (SELECT sum(n_docs) FROM cells) AS BIGINT)
         AS share_millis
FROM cells
"""


_CONTINGENCY_SQL = _build_contingency_sql()


@query("quality_filter_contingency", oracle=_CONTINGENCY_SQL)
def quality_filter_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2×2×2 contingency of the three quality filters — which unique
    keep/drop combination each document falls in, with per-cell corpus
    share (millis). Together with `quality_filter_agreement`'s kappa this
    is the full funnel-design evidence: the (T,T,T) cell is the composed
    build's yield, single-filter-dissent cells show which stage is the
    binding constraint per slice, and an empty cell means one filter is
    implied by the others (prune it). Same scale shape as the agreement
    query: three registered subplans, one 3-way doc_id join, one 8-group
    aggregate."""
    g = QUERIES["pipeline_quality_gopher"](spark, sf_dir).select(
        "doc_id", F.col("passes").alias("gopher")
    )
    c = QUERIES["pipeline_quality_classifier"](spark, sf_dir).select(
        "doc_id", (F.col("label") == "keep").alias("classifier")
    )
    p = QUERIES["pipeline_perplexity_buckets"](spark, sf_dir).select(
        "doc_id", F.col("kept").alias("perplexity")
    )
    j = g.join(c, "doc_id").join(p, "doc_id")
    cells = j.groupBy("gopher", "classifier", "perplexity").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("gopher") & F.col("classifier") & F.col("perplexity"))
            .cast("long")
        ).alias("n_kept"),
    )
    total = cells.agg(F.sum("n_docs").alias("tot"))
    return cells.crossJoin(F.broadcast(total)).select(
        "gopher", "classifier", "perplexity", "n_docs", "n_kept",
        F.expr("(1000 * n_docs) div tot").cast("long").alias("share_millis"),
    )
