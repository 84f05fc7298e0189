"""Text-analysis operators over the ``documents`` table (north-star
extension, SURVEY.md §2.9): corpus stats, token frequencies, per-document
quality scoring, heuristic language ID, and content fingerprinting — all as
native expressions (split/filter/aggregate/explode), no Python UDFs, so the
hot path scales to a 100 TB corpus as a scan + one shuffle per aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.localrel import local_rows_df
from vat_etl_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from vat_etl_spark.queries import QUERIES, query
from vat_etl_spark.sources.catalog import read_table as _t

_WS = r"\s+"
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "on", "for"]
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def tokens_expr(col):
    """Whitespace tokenization as a column expression."""
    return F.split(F.trim(col), _WS)


_NTOK_SQL = r"len(regexp_split_to_array(trim(text), '\s+'))"

_STATS_SQL = f"""
SELECT lang, source, count(*) AS n_docs,
  {davg_sql("n_chars")} AS avg_chars,
  {dsum_sql(_NTOK_SQL, 0)} AS total_tokens,
  min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang, source
"""


@query("text_corpus_stats", oracle=_STATS_SQL)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) corpus statistics incl. token counts."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(tokens_expr(F.col("text")))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        davg(F.col("n_chars")).alias("avg_chars"),
        dsum(ntok, 0).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_TOP_SQL = """
SELECT word, count(*) AS freq FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents
) GROUP BY word ORDER BY freq DESC, word LIMIT 25
"""


@query("text_top_words", oracle=_TOP_SQL)
def text_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word frequencies via explode + count + deterministic top-k. At 100 TB
    the explode fan-out is large but map-side partial aggregation collapses
    it before the shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_expr(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(25)
    )


_QUALITY_SQL = f"""
WITH feat AS (
  SELECT doc_id, n_chars,
    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains({_STOP_SQL}, w))) AS n_stop,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_words, n_stop, n_punct,
  cast(n_chars AS DOUBLE) / n_words AS avg_word_span,
  cast(n_stop AS DOUBLE) / n_words AS stopword_ratio,
  cast(n_punct AS DOUBLE) / n_chars AS punct_ratio,
  0.5 * least(cast(n_words AS DOUBLE) / 100.0, 1.0)
    + 0.3 * (cast(n_stop AS DOUBLE) / n_words)
    + 0.2 * (1.0 - cast(n_punct AS DOUBLE) / n_chars) AS quality_score
FROM feat
"""


@query("text_quality_score", oracle=_QUALITY_SQL)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length / stopword / punctuation
    ratios) + a combined score — the classic pretraining-data filter."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(F.lit(STOPWORDS), w)))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    feat = d.select("doc_id", "n_chars", n_words.alias("n_words"),
                    n_stop.alias("n_stop"), n_punct.alias("n_punct"))
    wd = F.col("n_words").cast("double")
    return feat.select(
        "doc_id", "n_words", "n_stop", "n_punct",
        (F.col("n_chars").cast("double") / wd).alias("avg_word_span"),
        (F.col("n_stop").cast("double") / wd).alias("stopword_ratio"),
        (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
        (
            F.lit(0.5) * F.least(wd / F.lit(100.0), F.lit(1.0))
            + F.lit(0.3) * (F.col("n_stop").cast("double") / wd)
            + F.lit(0.2) * (F.lit(1.0) - F.col("n_punct").cast("double") / F.col("n_chars"))
        ).alias("quality_score"),
    )


# Heuristic language ID: count distinctive function words per language and
# take the argmax through a fixed preference order (deterministic).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
}


def _marker_count(toks, words: list[str]):
    return F.size(F.filter(toks, lambda w: F.array_contains(F.lit(words), w)))


def _marker_count_sql(words: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"w -> list_contains({lst}, w)))"
    )


_LANGID_SQL = f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
    {_marker_count_sql(_LANG_MARKERS["en"])} AS s_en,
    {_marker_count_sql(_LANG_MARKERS["es"])} AS s_es,
    {_marker_count_sql(_LANG_MARKERS["de"])} AS s_de,
    {_marker_count_sql(_LANG_MARKERS["fr"])} AS s_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       WHEN s_de >= s_fr THEN 'de'
       ELSE 'fr' END AS predicted_lang
FROM scores
"""


@query("text_language_id", oracle=_LANGID_SQL)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/function-word language-ID heuristic (deterministic argmax)."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    s = {k: _marker_count(toks, v) for k, v in _LANG_MARKERS.items()}
    scored = d.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        s["en"].alias("s_en"), s["es"].alias("s_es"),
        s["de"].alias("s_de"), s["fr"].alias("s_fr"),
    )
    pred = (
        F.when(
            (F.col("s_en") == 0) & (F.col("s_es") == 0)
            & (F.col("s_de") == 0) & (F.col("s_fr") == 0),
            F.lit("und"),
        )
        .when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), F.lit("es"))
        .when(F.col("s_de") >= F.col("s_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


_FP_SQL = """
SELECT doc_id,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
  length(text) AS text_len
FROM documents
"""


@query("text_fingerprint", oracle=_FP_SQL)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content MD5 fingerprint — the exact-dedup key. (The
    reference has no hashing at all; this is the scale-path content key.)"""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), _WS, " ")
    return d.select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint"),
        F.length("text").alias("text_len"),
    )


_TOKCOUNT_SQL = """
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS bpe_ish_tokens,
  cast(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
"""


@query("text_token_counts", oracle=_TOKCOUNT_SQL)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex (word pieces +
    punctuation singles), chars/4 LLM heuristic."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens_expr(F.col("text"))).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]")).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("approx_llm_tokens"),
    )


# --- document chunking (LLM training-data prep) -------------------------------

# One source of truth for the chunking geometry: interpolated into BOTH SQL
# oracles (_CHUNK_SQL, _MAXP_SQL) and read by text_chunking's Python body, so
# a window/stride change can never desynchronize the three spellings.
_CHUNK_WINDOW, _CHUNK_STRIDE, _CHUNK_CAP = 200, 160, 63

_CHUNK_SQL = f"""
SELECT doc_id, chunk_idx,
       substring(text, cast(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_WINDOW}) AS chunk,
       len(substring(text, cast(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_WINDOW})) AS chunk_len
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, {_CHUNK_CAP})) AS chunk_idx)
WHERE chunk_idx * {_CHUNK_STRIDE} < len(text)
"""


@query("text_chunking", oracle=_CHUNK_SQL)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping document chunking (window 200 chars, stride
    160 → 40-char overlap) — the canonical LLM-pipeline prep op, as pure
    native expressions: sequence → explode → substring. No Python in the
    row path; at 100 TB this is a map-only stage (zero shuffles), and chunk
    count per doc is bounded so no skew. A Python UDTF could express the
    same thing — this form keeps whole-stage codegen."""
    d = _t(spark, sf_dir, "documents")
    window, stride = _CHUNK_WINDOW, _CHUNK_STRIDE
    n_chunks = F.ceil(F.length("text") / F.lit(stride)).cast("int")
    # clamp the sequence end to >= 0: for an EMPTY document n_chunks-1 is
    # -1 and Spark's sequence(0, -1) DESCENDS to [0, -1] — the phantom
    # chunk_idx=-1 would pass the length filter (-160 < 0) and diverge
    # from the oracle's generate_series(0, 63); the clamped [0] chunk is
    # then correctly removed by the filter (0 < 0 is false)
    idx = F.explode(
        F.sequence(F.lit(0), F.greatest(F.least(n_chunks - 1, F.lit(_CHUNK_CAP)), F.lit(0)))
    )
    chunked = d.select("doc_id", "text", idx.alias("chunk_idx"))
    chunk = F.substring(
        F.col("text"), F.col("chunk_idx") * stride + 1, window
    )
    return (
        chunked.filter(F.col("chunk_idx") * stride < F.length("text"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


# --- end-to-end training-set pipeline (composition capstone) ------------------

_TRAINING_SET_SQL = """
WITH scored AS (
  SELECT doc_id, lang, text,
         len(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
  WHERE len(trim(text)) > 0
),
keyed AS (
  SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM scored
),
survivors AS (
  SELECT fp, min(doc_id) AS keep_id FROM keyed GROUP BY fp
)
SELECT k.doc_id, k.lang, k.n_chars, k.n_tokens,
       cast((k.doc_id % 2147483648) * 2654435761 % 8 AS BIGINT) AS shard
FROM keyed k JOIN survivors s ON k.fp = s.fp AND k.doc_id = s.keep_id
WHERE k.n_tokens >= 5 AND k.n_chars >= 20
"""


@query("pipeline_training_set", oracle=_TRAINING_SET_SQL)
def pipeline_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data pipeline as ONE lazy plan: quality gates
    (length/token minimums) → exact-dedup survivor selection (min doc_id per
    content fingerprint) → deterministic shard assignment (Knuth
    multiplicative hash mod 8 — the write-side bucketing for training
    shards). Everything stays native expressions; dedup is the only shuffle;
    shard assignment is map-side. At 100 TB: the fingerprint groupBy shards
    on a 16-byte key, and shards write with partitionBy('shard')."""
    d = _t(spark, sf_dir, "documents")
    scored = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", "lang", "text",
        F.length("text").alias("n_chars"),
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
    )
    keyed = scored.withColumn(
        "fp",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").cast("binary")),
    )
    survivors = keyed.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    # Alias both sides: ``survivors`` is derived from ``keyed``, so
    # ``keyed["fp"] == survivors["fp"]`` would resolve both references to
    # the SAME attribute: a trivially-true predicate that Spark repairs by
    # column name only where it can, with a WARN. Explicit aliases make the
    # fp equality a real join key (guarded registry-wide in oracle.run_all
    # by plans.plan_violations and the build-time WARN check).
    return (
        keyed.alias("k")
        .join(
            survivors.alias("s"),
            (F.col("k.fp") == F.col("s.fp")) & (F.col("k.doc_id") == F.col("s.keep_id")),
        )
        .filter((F.col("k.n_tokens") >= 5) & (F.col("k.n_chars") >= 20))
        .select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.lang").alias("lang"),
            F.col("k.n_chars").alias("n_chars"),
            F.col("k.n_tokens").alias("n_tokens"),
            ((F.col("k.doc_id") % 2147483648) * F.lit(2654435761) % 8).cast("long").alias("shard"),
        )
    )


_UDTF_SEGMENTS_SQL = """
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents ORDER BY doc_id LIMIT 200
),
idx AS (SELECT unnest(generate_series(0, 255)) AS seg_idx)
SELECT doc_id, seg_idx,
       array_to_string(list_slice(toks, seg_idx * 10 + 1, seg_idx * 10 + 10), ' ') AS segment,
       len(list_slice(toks, seg_idx * 10 + 1, seg_idx * 10 + 10)) AS n_tokens
FROM docs CROSS JOIN idx
WHERE seg_idx * 10 < len(toks)
"""


@query("udtf_segment_split", oracle=_UDTF_SEGMENTS_SQL)
def udtf_segment_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input document → N output segment rows
    (10 tokens each, sentence-style segmentation for a punctuation-free
    corpus) — the table-function escape hatch completing the UDF/UDAF/UDTF
    surface. The equivalent native form is split+posexplode (used by
    text_chunking for the hot path); a UDTF earns its cost when the
    expansion logic needs real Python (parsers, tokenizers)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, seg_idx int, segment string, n_tokens int")
    class SegmentSplit:
        def eval(self, doc_id, text):
            if text is None:
                return
            toks = text.split()
            for i in range(0, len(toks), 10):
                seg = toks[i : i + 10]
                yield doc_id, i // 10, " ".join(seg), len(seg)

    spark.udtf.register("segment_split", SegmentSplit)
    d = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(200)
    d.createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT s.* FROM docs_udtf, LATERAL segment_split(doc_id, text) s"
    )


_WORDPOS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
  FROM documents WHERE doc_id % 50 = 0
)
SELECT doc_id, x.pos, x.word FROM (
  SELECT doc_id,
    unnest(list_transform(arr, (w, i) -> {'pos': i, 'word': w})) AS x
  FROM t
)
"""


@query("text_word_positions", oracle=_WORDPOS_SQL)
def text_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization via ``posexplode`` (LATERAL VIEW in SQL
    terms): one row per (doc, position, token), 1-based to match the SQL
    ordinality convention. Map-side only — the generator runs inside the
    scan stage with no shuffle; downstream n-gram/windowed features build
    on this shape."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return d.select(
        "doc_id", F.posexplode(tokens_expr(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


_DOCFREQ_SQL = r"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents
),
df AS (SELECT word, count(*) AS doc_freq FROM tok GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, doc_freq, n_docs
FROM df, n
WHERE doc_freq >= 100
"""


@query("text_doc_frequency", oracle=_DOCFREQ_SQL)
def text_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per token (the exact-integer core of TF-IDF —
    idf = ln(N/df) is left to the consumer because libm ulps differ across
    engines while these counts are hash-exact). distinct(doc, word) before
    the count so a token counts once per document; the corpus size rides
    along via a 1-row cross join (broadcast). At 100 TB this is the
    classic two-level aggregate: explode → per-partition distinct →
    global count per word; high-frequency tokens are exactly the ones a
    similarity join must cap or drop (see SCALE.md dedup notes)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("word")
    ).distinct()
    df_counts = tok.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n = d.groupBy().agg(F.count("*").alias("n_docs"))
    return df_counts.join(F.broadcast(n)).filter(F.col("doc_freq") >= 100)


# Rabin-Karp-style constants: multiplier/base primes and a 2^31-1 modulus —
# intermediate acc*B + t stays < 2^52, exact in BIGINT on both engines.
_RH_B, _RH_M = 1000003, 2147483647
_RH_TOK_SQL = (
    "ascii(substr(w, 1, 1)) * 1048573 + ascii(substr(w, len(w), 1)) * 1009 + len(w)"
)

_ROLLFP_SQL = rf"""
WITH t AS (
  SELECT doc_id,
    list_transform(regexp_split_to_array(trim(text), '\s+'),
                   w -> {_RH_TOK_SQL}) AS tv
  FROM documents
)
SELECT doc_id,
  list_reduce(list_prepend(cast(0 AS BIGINT), tv),
              (acc, x) -> (acc * {_RH_B} + x) % {_RH_M}) AS rolling_fp,
  len(tv) AS n_tokens
FROM t
"""


@query("text_rolling_fingerprint", oracle=_ROLLFP_SQL)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (Rabin-Karp polynomial fold over
    the token stream): order-sensitive — reordered tokens change the
    fingerprint, unlike a bag-of-words hash — and incremental, so a sliding
    window over n-grams reuses O(1) work per step (the basis for
    winnowing-style near-dup detection). Exact BIGINT arithmetic, so Spark
    and DuckDB agree digit-for-digit; map-only, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    tokval = lambda w: (  # noqa: E731
        F.ascii(F.substring(w, 1, 1)) * F.lit(1048573)
        + F.ascii(F.substring(w, F.length(w), 1)) * F.lit(1009)
        + F.length(w)
    ).cast("long")
    tv = F.transform(tokens_expr(F.col("text")), tokval)
    roll = F.aggregate(
        tv,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_RH_B) + x) % F.lit(_RH_M),
    )
    return d.select(
        "doc_id", roll.alias("rolling_fp"), F.size(tv).cast("long").alias("n_tokens")
    )


_BM25_TERMS = ["hash", "join", "vector"]
_BM25_K1, _BM25_B = 1.2, 0.75

def _bm25_sql(where: str = "", limit: int = 50) -> str:
    """BM25 oracle SQL with an optional pre-top-k candidate filter — the
    exclusion runs BEFORE the LIMIT, so callers (retrieval_hybrid_rrf) get
    a true top-``limit`` over the filtered candidate set, never a
    truncated one (corpus stats still include every doc)."""
    return _BM25_SQL_TEMPLATE.format(where=where, limit=limit)


_BM25_SQL_TEMPLATE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT cast(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n_docs FROM dl
),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ('hash', 'join', 'vector') GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, tf.w,
    ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
      * ((tf * 2.2::DOUBLE)
         / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl / avgdl)))) AS sterm
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.w = df.w
  CROSS JOIN stats
)
SELECT doc_id,
  coalesce(max(CASE WHEN w = 'hash' THEN sterm END), 0.0::DOUBLE)
    + coalesce(max(CASE WHEN w = 'join' THEN sterm END), 0.0::DOUBLE)
    + coalesce(max(CASE WHEN w = 'vector' THEN sterm END), 0.0::DOUBLE) AS score
FROM scored {where} GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {limit}
"""

_BM25_SQL = _bm25_sql()


@query("text_bm25_ranking", oracle=_BM25_SQL)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query, with a *rational* idf
    ``(N − df + ½)/(df + ½)`` instead of its logarithm — a monotone
    rescaling per term that keeps every arithmetic step an IEEE operation
    on identical operands in both engines (``ln`` is libm-dependent and
    would flake the value-hash gate). Per-term scores are re-added in
    fixed term order, not via float ``sum()``, for the same reason.

    Scale shape: one explode+group over the corpus for tf (term-filtered
    BEFORE the shuffle, so only query-term postings move), one for dl;
    df and the corpus stats are tiny broadcasts. This is a scan + two
    shuffles regardless of corpus size — the BM25 of a 100 TB corpus
    moves only its postings lists.

    dl is computed as ``size(tokens)`` — a map-only projection on the same
    scan (identical to explode+count: the splitter emits one token per
    whitespace gap, incl. the empty token of empty text), so the whole
    ranking costs ONE explode-shuffle (the term-filtered tf), not two."""
    tf, dl = _bm25_postings(spark, sf_dir)
    return _bm25_round1(tf, dl)


def _bm25_postings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (doc_id, w, tf) query-term postings and map-only doc-length
    frames text_bm25_ranking scores — shared with retrieval_hybrid_rrf so
    its lexical branch can filter candidates BEFORE the top-k."""
    # NULL-text docs must vanish from dl exactly as they do from the
    # explode path (explode of a NULL array emits nothing) and from the
    # oracle's unnest — size(NULL) would instead keep the doc and shift
    # n_docs/avgdl between engines
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokens_expr(F.col("text"))
    dl = d.select("doc_id", F.size(toks).cast("bigint").alias("dl"))
    tok = d.select("doc_id", F.explode(toks).alias("w"))
    tf = (
        tok.filter(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    return tf, dl


def _bm25_round1(
    tf: DataFrame, dl: DataFrame, limit: int = 50, exclude_doc_id: int | None = None
) -> DataFrame:
    """The registered BM25 ranking over prebuilt (doc_id, w, tf) postings
    and doc-length frames — shared with retrieval_prf_rm3, whose feedback
    round reuses (persists) the round-1 postings instead of re-deriving
    them from the corpus."""
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    # literals spelled identically to the SQL (2.2, 0.25), never computed
    # (1.2 + 1.0 need not round to the same double as the literal 2.2)
    tfnorm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(df_, "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "w", (idf * tfnorm).alias("sterm"))
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("w") == t, F.col("sterm"))), F.lit(0.0))
        for t in _BM25_TERMS
    ]
    score = per_term[0] + per_term[1] + per_term[2]
    ranked = scored.groupBy("doc_id").agg(score.alias("score"))
    if exclude_doc_id is not None:
        # before the top-k, so the caller gets a true top-``limit`` over
        # the remaining candidates (not limit-1 when the excluded doc ranks)
        ranked = ranked.filter(F.col("doc_id") != exclude_doc_id)
    return ranked.orderBy(F.desc("score"), "doc_id").limit(limit)


_CHISQ_SQL = """
WITH cell AS (
  SELECT lang, source, count(*) AS observed FROM documents GROUP BY 1, 2
),
rowt AS (SELECT lang, sum(observed) AS r FROM cell GROUP BY lang),
colt AS (SELECT source, sum(observed) AS c FROM cell GROUP BY source),
tot AS (SELECT sum(observed) AS t FROM cell)
SELECT cell.lang, cell.source, observed,
  cast(r AS DOUBLE) * cast(c AS DOUBLE) / cast(t AS DOUBLE) AS expected,
  (observed - cast(r AS DOUBLE) * cast(c AS DOUBLE) / cast(t AS DOUBLE))
    * (observed - cast(r AS DOUBLE) * cast(c AS DOUBLE) / cast(t AS DOUBLE))
    / (cast(r AS DOUBLE) * cast(c AS DOUBLE) / cast(t AS DOUBLE))
    AS chi2_contribution
FROM cell JOIN rowt USING (lang) JOIN colt USING (source) CROSS JOIN tot
"""


@query("text_chisq_contingency", oracle=_CHISQ_SQL)
def text_chisq_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence analysis of the lang × source contingency
    table: observed counts, expected-under-independence, and each cell's
    χ² contribution — the corpus-composition diagnostic for training-data
    curation (which sources skew which languages).

    One fact aggregation to the cell grain; marginals are re-aggregates of
    the (|langs|·|sources|)-row cell table, broadcast back. The result is
    deliberately PER-CELL: contributions are deterministic IEEE expressions
    over exact integer counts, whereas the scalar χ² statistic would sum
    float cells in engine-specific order — the caller can sum the tiny
    result exactly if a single statistic is wanted."""
    d = _t(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count("*").alias("observed"))
    cell = cell.persist()
    rowt = cell.groupBy("lang").agg(F.sum("observed").alias("r"))
    colt = cell.groupBy("source").agg(F.sum("observed").alias("c"))
    tot = cell.agg(F.sum("observed").alias("t"))
    j = (
        cell.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("r").cast("double") * F.col("c").cast("double") / F.col("t").cast("double")
    )
    dev = F.col("observed") - expected
    return j.select(
        "lang", "source", "observed",
        expected.alias("expected"),
        (dev * dev / expected).alias("chi2_contribution"),
    )


_KEYWORDS_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, t.tf, df.df,
    cast(t.tf AS DOUBLE)
      * (cast(n_docs - df.df AS DOUBLE) + 0.5) / (cast(df.df AS DOUBLE) + 0.5)
      AS score
  FROM tf t JOIN df ON t.word = df.word CROSS JOIN n
)
SELECT doc_id, word, tf, df, score,
  cast(rk AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, word) AS rk
  FROM scored
) WHERE rk <= 3
"""


@query("text_keywords_rational_idf", oracle=_KEYWORDS_SQL)
def text_keywords_rational_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf × rational-idf,
    where idf is the Robertson-Sparck-Jones form (N − df + ½)/(df + ½)
    WITHOUT the log — monotone in the same variable, so the top-k set is
    identical to log-idf's, and (being one IEEE divide over exact integer
    counts) it hash-matches across engines where ln() ulps would not (the
    same trick as text_bm25_ranking).

    Scale shape: explode → (doc,term) tf agg; term-grain df table joins
    back keyed on term (lexicon ≪ corpus, but it still grows with the
    corpus — no hard broadcast hint; the threshold/AQE broadcasts it while
    it fits); top-k per doc is a doc-partitioned window, never a global
    sort. Ties break on
    the term itself, so ranking is total and deterministic."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tok.distinct().groupBy("word").agg(F.count("*").alias("df"))
    n_docs = d.count()
    scored = tf.join(dfreq, "word").select(
        "doc_id",
        "word",
        "tf",
        "df",
        (
            F.col("tf").cast("double")
            * (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tf", "df", "score", "rank")
    )


_CONFUSION_SQL = f"""
WITH pred AS ({_LANGID_SQL})
SELECT labeled_lang, predicted_lang, count(*) AS n,
  cast(count(*) AS DOUBLE)
    / cast(sum(count(*)) OVER (PARTITION BY labeled_lang) AS DOUBLE)
    AS row_share
FROM pred GROUP BY 1, 2
"""


@query("text_langid_confusion", oracle=_CONFUSION_SQL)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the labeled
    lang column (counts + per-true-label row shares) — the eval artifact
    that turns a classifier into a monitored component: diagonal mass =
    accuracy per language, off-diagonal cells name the failure pairs.

    Composes the registered predictor (text_language_id) — evals and
    predictions share ONE definition, so the matrix can never drift from
    the model it scores. Counts are integer; row shares one division.
    Scale: matrix cardinality is |langs|² regardless of corpus size."""
    pred = text_language_id(spark, sf_dir)
    counts = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n")
    )
    return counts.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("labeled_lang")).cast("double")
        ).alias("row_share"),
    )


_VOCAB_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS w
  FROM documents
),
first_seen AS (SELECT w, min(doc_id) AS d0 FROM tok GROUP BY w),
bounds AS (SELECT max(doc_id) AS dmax, count(DISTINCT doc_id) AS n_docs FROM tok),
thresholds AS (
  SELECT k, ((k * (dmax + 1)) // 10) - 1 AS n_k
  FROM bounds CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS k)
)
SELECT cast(t.k AS INTEGER) AS decile, cast(t.n_k AS BIGINT) AS through_doc_id,
  count(f.w) AS vocab_size
FROM thresholds t LEFT JOIN first_seen f ON f.d0 <= t.n_k
GROUP BY t.k, t.n_k
"""


@query("text_vocab_growth", oracle=_VOCAB_SQL)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct-token count after
    each successive tenth of the corpus — the standard diagnostic for
    'is this corpus still contributing new tokens, or is it saturated?'
    (a dedup/quality signal: a flat curve means the tail is repetition).

    Cumulative-distinct is not frame-able as a window, so the exact
    spelling is first-occurrence doc per token (one aggregate), then a
    10-row threshold table joined against it — integer comparisons only.
    Scale shape: the token→min(doc) aggregate is the only fact-sized
    shuffle; the curve itself is dim-sized."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("w"),
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("d0"))
    dmax = tok.agg(F.max("doc_id")).first()[0]
    thresholds = spark.range(1, 11).select(
        F.col("id").cast("int").alias("decile"),
        ((F.col("id") * (dmax + 1)) / 10).cast("bigint").alias("n_k_plus1"),
    ).select("decile", (F.col("n_k_plus1") - 1).alias("through_doc_id"))
    return (
        F.broadcast(thresholds)
        .join(first_seen, F.col("d0") <= F.col("through_doc_id"), "left")
        .groupBy("decile", "through_doc_id")
        .agg(F.count("w").alias("vocab_size"))
    )


_ZIPF_SQL = r"""
WITH freq AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
    FROM documents
  ) GROUP BY word
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank,
       word, freq,
       CAST(freq * row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
         AS rank_freq_product
FROM freq
ORDER BY rank LIMIT 30
"""


@query("text_zipf_rank_freq", oracle=_ZIPF_SQL)
def text_zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostics: top-30 words with rank, frequency,
    and the rank×frequency product (constant under ideal Zipf — the quick
    visual check that a corpus' token distribution is natural rather than
    boilerplate-dominated; complements text_vocab_growth's Heaps curve).
    One token aggregate + a 30-row top-k; integer-only."""
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens_expr(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # top-30 FIRST (TakeOrderedAndProject — never a global sort), then the
    # rank window runs over 30 rows: no corpus-sized single-partition window
    top = freq.orderBy(F.desc("freq"), F.asc("word")).limit(30)
    w = W.orderBy(F.desc("freq"), F.asc("word"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank", "word", "freq",
            (F.col("freq") * F.col("rank")).cast("long").alias("rank_freq_product"),
        )
        .orderBy("rank")
    )


# --- chunk-level retrieval with max-passage aggregation (MaxP) ----------------

_MAXP_SQL = rf"""
WITH chunks AS (
  SELECT doc_id, chunk_idx,
         substring(text, cast(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_WINDOW}) AS chunk
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, {_CHUNK_CAP})) AS chunk_idx)
  WHERE chunk_idx * {_CHUNK_STRIDE} < len(text)
),
tok AS (
  SELECT doc_id, chunk_idx,
         unnest(regexp_split_to_array(trim(chunk), '\s+')) AS w
  FROM chunks
),
cl AS (SELECT doc_id, chunk_idx, count(*) AS cl FROM tok GROUP BY doc_id, chunk_idx),
stats AS (
  SELECT cast(sum(cl) AS DOUBLE) / count(*) AS avgcl, count(*) AS n_chunks FROM cl
),
tf AS (
  SELECT doc_id, chunk_idx, w, count(*) AS tf FROM tok
  WHERE w IN ('hash', 'join', 'vector') GROUP BY doc_id, chunk_idx, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, tf.chunk_idx, tf.w,
    ((n_chunks - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
      * ((tf * 2.2::DOUBLE)
         / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (cl / avgcl)))) AS sterm
  FROM tf
  JOIN cl ON tf.doc_id = cl.doc_id AND tf.chunk_idx = cl.chunk_idx
  JOIN df ON tf.w = df.w
  CROSS JOIN stats
),
chunk_scores AS (
  SELECT doc_id, chunk_idx,
    coalesce(max(CASE WHEN w = 'hash' THEN sterm END), 0.0::DOUBLE)
      + coalesce(max(CASE WHEN w = 'join' THEN sterm END), 0.0::DOUBLE)
      + coalesce(max(CASE WHEN w = 'vector' THEN sterm END), 0.0::DOUBLE) AS cscore
  FROM scored GROUP BY doc_id, chunk_idx
),
best AS (
  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS best_chunk_idx, cscore AS score
  FROM (
    SELECT doc_id, chunk_idx, cscore,
           row_number() OVER (PARTITION BY doc_id ORDER BY cscore DESC, chunk_idx) AS rn
    FROM chunk_scores
  ) WHERE rn = 1
)
SELECT doc_id, best_chunk_idx, score
FROM best ORDER BY score DESC, doc_id LIMIT 20
"""


@query("retrieval_chunk_maxp", oracle=_MAXP_SQL)
def retrieval_chunk_maxp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level retrieval with max-passage (MaxP) document scoring
    (Dai & Callan 2019, SIGIR, "Deeper text understanding for IR..."):
    BM25 runs over the 200-char CHUNKS of ``text_chunking`` rather than
    whole documents, and a document's score is its best chunk's — the
    standard fix for long documents, where whole-doc BM25 dilutes a
    strong local passage with unrelated length. Output: top-20 docs with
    the winning chunk index (the passage a RAG system would return).

    Same engine-exactness discipline as text_bm25_ranking: rational idf
    (no log), literal constants, fixed-order per-term adds — the chunk
    strings themselves are substring() outputs identical in both engines,
    so chunk-boundary token splits can never diverge. The chunk stream IS
    the registered ``text_chunking`` query (one source of truth for
    window/stride/cap). Scale: chunking is the audited map-only stage;
    the ``cl`` aggregate shuffles one row per CHUNK of the corpus (it
    must — avgcl/n_chunks are corpus statistics, the same honest cost as
    BM25's ``dl``), while tf/df shuffle only query-term postings; the
    MaxP step is a doc-keyed window over matching chunks only."""
    chunks = QUERIES["text_chunking"](spark, sf_dir).select(
        "doc_id", "chunk_idx", "chunk"
    )
    tok = chunks.select(
        "doc_id", "chunk_idx", F.explode(tokens_expr(F.col("chunk"))).alias("w")
    )
    cl = tok.groupBy("doc_id", "chunk_idx").agg(F.count("*").alias("cl"))
    stats = cl.agg(
        (F.sum("cl").cast("double") / F.count("*")).alias("avgcl"),
        F.count("*").alias("n_chunks"),
    )
    tf = (
        tok.filter(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "chunk_idx", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = (F.col("n_chunks") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tfnorm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("cl") / F.col("avgcl")))
    )
    scored = (
        tf.join(cl, ["doc_id", "chunk_idx"])
        .join(df_, "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "chunk_idx", "w", (idf * tfnorm).alias("sterm"))
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("w") == t, F.col("sterm"))), F.lit(0.0))
        for t in _BM25_TERMS
    ]
    cscore = per_term[0] + per_term[1] + per_term[2]
    chunk_scores = scored.groupBy("doc_id", "chunk_idx").agg(cscore.alias("cscore"))
    wb = W.partitionBy("doc_id").orderBy(F.desc("cscore"), "chunk_idx")
    best = (
        chunk_scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("best_chunk_idx"),
            F.col("cscore").alias("score"),
        )
    )
    return best.orderBy(F.desc("score"), "doc_id").limit(20)


# --- pseudo-relevance feedback (RM3-style query expansion) --------------------

_PRF_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
_PRF_TERMS_SQL = "('hash', 'join', 'vector')"
_PRF_FB_DOCS = 10   # feedback depth
_PRF_N_EXP = 2      # expansion terms
_PRF_LAMBDA = 0.5   # expansion weight (literal on both sides)

_PRF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT cast(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n_docs FROM dl
),
fb AS (
  SELECT doc_id FROM ( {_BM25_SQL} ) bm ORDER BY score DESC, doc_id LIMIT {_PRF_FB_DOCS}
),
exp_terms AS (
  SELECT w, CAST(2 + row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS term_rank
  FROM (
    SELECT t.w, count(*) AS c
    FROM tok t JOIN fb USING (doc_id)
    WHERE t.w NOT IN {_PRF_TERMS_SQL} AND t.w NOT IN {_PRF_STOP_SQL}
    GROUP BY t.w
  ) cand
  ORDER BY c DESC, w LIMIT {_PRF_N_EXP}
),
terms AS (
  SELECT 'hash' AS w, CAST(0 AS BIGINT) AS term_rank, 1.0::DOUBLE AS wgt
  UNION ALL SELECT 'join', 1, 1.0::DOUBLE
  UNION ALL SELECT 'vector', 2, 1.0::DOUBLE
  UNION ALL SELECT w, term_rank, {_PRF_LAMBDA}::DOUBLE FROM exp_terms
),
tf AS (
  SELECT t.doc_id, t.w, count(*) AS tf
  FROM tok t JOIN terms ON t.w = terms.w
  GROUP BY t.doc_id, t.w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, terms.term_rank,
    terms.wgt * ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
      * ((tf * 2.2::DOUBLE)
         / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl / avgdl)))) AS sterm
  FROM tf
  JOIN terms ON tf.w = terms.w
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.w = df.w
  CROSS JOIN stats
),
folded AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0.0::DOUBLE, list(sterm ORDER BY term_rank)),
           (acc, x) -> acc + x) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score FROM folded ORDER BY score DESC, doc_id LIMIT 20
"""


@query("retrieval_prf_rm3", oracle=_PRF_SQL)
def retrieval_prf_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (the RM3 recipe, Abdul-Jaleel et al.
    2004, TREC: expand the query with terms from the first round's top
    documents, then re-rank): round 1 is the registered BM25; the 2
    expansion terms are the most frequent non-query, non-stopword words
    of the top-10 feedback
    docs (count desc, term asc — integer-deterministic); round 2 scores
    original terms at weight 1.0 and expansion terms at 0.5, summed in
    FIXED term-rank order through an in-row fold (the deterministic-sum
    discipline of ann_pq_recall_eval — a shuffled float sum over a
    data-dependent term set could flip a rank-20 boundary).

    Engine-exactness: the oracle derives the SAME expansion terms in SQL
    (no literals baked from the Spark run), every constant is a shared
    literal, and both engines fold the per-term scores in term-rank
    order. Scale: the round-1 postings are built ONCE and persisted — the
    doc-length frame (map-only ``size(tokens)``, no explode shuffle) and
    the term-filtered tf (doc×3 rows) are reused by the feedback round, so
    round 2 adds only the expansion-term postings scan and the 10
    feedback docs' term counting (two BM25 rounds are inherent to PRF, a
    third full postings build is not)."""
    lam = _PRF_LAMBDA
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokens_expr(F.col("text"))
    dl = d.select("doc_id", F.size(toks).cast("bigint").alias("dl"))
    tok = d.select("doc_id", F.explode(toks).alias("w"))
    tf3 = (
        tok.filter(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dl, tf3 = dl.persist(), tf3.persist()
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    # the feedback state is model-sized (10 doc ids, then 2 expansion
    # terms) — collect it and re-inject as literals, so the final plan is
    # one linear job instead of re-running the round-1 subtree inside
    # every branch that references the lazy expansion frame (the
    # model-sized-collect discipline of kmeans_lloyd / text_bpe_merges)
    fb_ids = [
        r.doc_id for r in _bm25_round1(tf3, dl, limit=_PRF_FB_DOCS).collect()
    ]
    # tokenize ONLY the feedback docs: the pushed-down id filter prunes
    # before the explode — feedback-term counting splits 10 documents
    fb_tok = (
        d.filter(F.col("doc_id").isin(fb_ids))
        .select(F.explode(toks).alias("w"))
    )
    exp_rows = (
        fb_tok
        .filter(~F.col("w").isin(_BM25_TERMS) & ~F.col("w").isin(STOPWORDS))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_PRF_N_EXP)
        .collect()
    )
    exp_ws = [r.w for r in exp_rows]
    # JVM local relation (functions/localrel.py): the pickled-RDD
    # spelling re-ran Python workers on every pass of this benched query
    terms = local_rows_df(
        spark,
        [(t, i, 1.0) for i, t in enumerate(_BM25_TERMS)]
        + [(w, 2 + j + 1, lam) for j, w in enumerate(exp_ws)],
        "w string, term_rank long, wgt double",
    )
    tf_exp = (
        tok.filter(F.col("w").isin(exp_ws))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    tf = tf3.unionByName(tf_exp)
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tfnorm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(df_, "w")
        .join(F.broadcast(terms), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term_rank", (F.col("wgt") * idf * tfnorm).alias("sterm"))
    )
    folded = (
        scored.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term_rank", "sterm"))).alias("terms"))
        .select(
            "doc_id",
            F.aggregate(
                F.transform("terms", lambda t: t["sterm"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    return folded.orderBy(F.desc("score"), "doc_id").limit(20)


# --- retrieval evaluation: MRR + nDCG@10, integer-exact ------------------------

# log2 discounts as INTEGER micros, computed once here and interpolated into
# BOTH engines as literals — the established trick for log-shaped metrics
# whose libm ulps would otherwise flake the value-hash gate.
_NDCG_W = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465,
           301030, 289065]  # round(1e6 / log2(rank+1)), rank = 1..10

_REL_SQL = (
    "(CASE WHEN list_contains(t, 'hash') THEN 1 ELSE 0 END"
    " + CASE WHEN list_contains(t, 'join') THEN 1 ELSE 0 END"
    " + CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END)"
)

_W_CASE_SQL = "CASE rnk " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " ELSE 0 END"

_EVAL_SQL = f"""
WITH rel AS (
  SELECT doc_id, {_REL_SQL} AS rel
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM ( {{bm25}} ) b
),
ranked AS (
  SELECT bm.rnk, (power(2, rel.rel) - 1)::BIGINT AS gain
  FROM bm JOIN rel USING (doc_id) WHERE bm.rnk <= 10
),
dcg AS (SELECT cast(sum(gain * ({_W_CASE_SQL})) AS BIGINT) AS dcg FROM ranked),
ideal AS (
  SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk,
         (power(2, rel) - 1)::BIGINT AS gain
  FROM (SELECT * FROM rel ORDER BY rel DESC, doc_id LIMIT 10)
),
idcg AS (SELECT cast(sum(gain * ({_W_CASE_SQL})) AS BIGINT) AS idcg FROM ideal),
mrr AS (
  SELECT cast(min(bm.rnk) AS BIGINT) AS first_rel_rank
  FROM bm JOIN rel USING (doc_id) WHERE rel.rel >= 1
)
SELECT dcg.dcg, idcg.idcg,
  CASE WHEN idcg.idcg > 0 THEN 1000000 * dcg.dcg // idcg.idcg ELSE 0 END
    AS ndcg10_micros,
  coalesce(mrr.first_rel_rank, 0) AS first_rel_rank,
  CASE WHEN mrr.first_rel_rank IS NOT NULL THEN 1000000 // mrr.first_rel_rank
       ELSE 0 END AS mrr_micros
FROM dcg, idcg, mrr
""".format(bm25=_BM25_SQL)


@query("retrieval_eval_metrics", oracle=_EVAL_SQL)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval stack's evaluation harness: MRR and nDCG@10 of the
    registered BM25 ranking against a deterministic graded-relevance rule
    (rel = number of distinct query terms a document contains, gain =
    2^rel − 1 — the standard graded-gain form). Completes the IR tier:
    rankers (BM25/MaxP/RRF/RM3) without their metrics are unfalsifiable.

    Engine-exactness: log2 rank discounts are INTEGER-micros literals
    computed once in Python and interpolated into both engines (libm log
    never runs in either); DCG/IDCG are integer sums, nDCG and MRR are
    integer floor-divisions. IDCG uses the ideal top-10 over the WHOLE
    corpus (TakeOrderedAndProject), so the metric is the honest global
    nDCG, not list-relative. Scale: relevance is a map-only projection;
    the only per-corpus work is the BM25 branch itself plus one top-10;
    rank windows run over LIMIT-bounded rows (10/50)."""
    bm = QUERIES["text_bm25_ranking"](spark, sf_dir)
    wb = W.orderBy(F.desc("score"), "doc_id")
    bm_ranked = bm.select("doc_id", F.row_number().over(wb).alias("rnk"))
    d = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    rel = d.select(
        "doc_id",
        sum(
            F.array_contains(toks, t).cast("int") for t in _BM25_TERMS
        ).alias("rel"),
    )
    wmap = F.create_map(
        *[F.lit(x) for i, w in enumerate(_NDCG_W) for x in (i + 1, w)]
    )
    # graded gain 2^rel - 1 as a literal map (rel ∈ 0..3) — integer-exact
    gain_map = F.create_map(
        *[F.lit(x) for pair in ((0, 0), (1, 1), (2, 3), (3, 7)) for x in pair]
    )
    gain = F.element_at(gain_map, F.col("rel")).cast("bigint")
    # rel is corpus-sized — broadcast the 10-row ranked side into it
    ranked = rel.join(F.broadcast(bm_ranked.filter(F.col("rnk") <= 10)), "doc_id")
    dcg = ranked.agg(
        F.sum(gain * F.element_at(wmap, F.col("rnk"))).cast("bigint").alias("dcg")
    )
    ideal10 = rel.orderBy(F.desc("rel"), "doc_id").limit(10)
    wi = W.orderBy(F.desc("rel"), "doc_id")
    ideal = ideal10.select(F.row_number().over(wi).alias("rnk"), gain.alias("gain"))
    idcg = ideal.agg(
        F.sum(F.col("gain") * F.element_at(wmap, F.col("rnk")))
        .cast("bigint")
        .alias("idcg")
    )
    mrr = (
        rel.filter(F.col("rel") >= 1)
        .join(F.broadcast(bm_ranked), "doc_id")
        .agg(F.min("rnk").cast("bigint").alias("first_rel_rank"))
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(mrr))
        .select(
            "dcg",
            "idcg",
            F.when(
                F.col("idcg") > 0, F.expr("1000000 * dcg div idcg")
            ).otherwise(F.lit(0)).alias("ndcg10_micros"),
            F.coalesce("first_rel_rank", F.lit(0)).alias("first_rel_rank"),
            F.when(
                F.col("first_rel_rank").isNotNull(),
                F.expr("1000000 div first_rel_rank"),
            ).otherwise(F.lit(0)).alias("mrr_micros"),
        )
    )


# --- PMI collocation mining ----------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 50

_PMI_SQL = rf"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
uni AS (SELECT unnest(t) AS w FROM toks),
uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bi),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM bi GROUP BY w1, w2 HAVING count(*) >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy,
       u1.c AS c_x, u2.c AS c_y,
       CAST(round(1e6 * log2(
         (CAST(c_xy AS DOUBLE) * n_uni * n_uni)
         / (CAST(u1.c AS DOUBLE) * u2.c * n_bi))) AS BIGINT) AS pmi_micros
FROM bc
JOIN uc u1 ON bc.w1 = u1.w
JOIN uc u2 ON bc.w2 = u2.w
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi_micros DESC, w1, w2
LIMIT {_PMI_TOP}
"""


@query("text_collocation_pmi", oracle=_PMI_SQL)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church & Hanks
    1990, "Word Association Norms, Mutual Information, and Lexicography"
    — the classic corpus-linguistics measure of which adjacent word
    pairs co-occur far above chance): PMI(x,y) = log2(p(xy)/(p(x)p(y)))
    over adjacent-bigram and unigram frequencies, reported for the top
    {top} pairs with at least {mc} occurrences.

    Engine-exactness: numerator/denominator are built as DOUBLEs in the
    same left-associated order in both engines, so the log2 argument is
    bit-identical and micros rounding absorbs the remaining libm-log2
    ulps (the pipeline_dsir_weights discipline for data-dependent logs;
    ties at the LIMIT boundary are broken by (w1, w2)).

    Scale shape: the min-count HAVING prunes the bigram table BEFORE the
    two unigram joins (at web scale that filter drops the long tail —
    the surviving collocation table is vocabulary-sized, not
    corpus-sized); corpus totals arrive as 1-row broadcast aggregates,
    never driver collects; the final order+limit is a
    TakeOrderedAndProject, never a global sort. Join sizing is left to
    AQE — both sides are corpus-derived (the no-forced-broadcast rule)."""
    d = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    toks = tokens_expr(F.col("text"))
    tdf = d.select(toks.alias("t"))
    uni = tdf.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    nu = uc.agg(F.sum("c").cast("bigint").alias("n_uni"))
    pairs = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at(F.col("t"), i).alias("w1"),
                F.element_at(F.col("t"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = tdf.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    nb = bi.agg(F.count("*").cast("bigint").alias("n_bi"))
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .where(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.round(
                1e6
                * F.log2(
                    (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("c_x").cast("double") * F.col("c_y") * F.col("n_bi"))
                )
            ).cast("bigint").alias("pmi_micros"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micros"), "w1", "w2"
    ).limit(_PMI_TOP)


text_collocation_pmi.__doc__ = text_collocation_pmi.__doc__.format(
    top=_PMI_TOP, mc=_PMI_MIN_COUNT
)
