"""Similarity search over ``embeddings`` (north-star extension): brute-force
cosine top-k (the exact baseline, oracle-verified bit-for-bit) and an
LSH-bucketed approximate variant (the scale path).

Scale notes: brute force is O(Q·N) — fine when Q is small and N is sharded
(each partition scores its slice, TakeOrderedAndProject merges top-k). For
N×N all-pairs at 100 TB, bucket by random-projection signature so the join
is per-bucket (BucketedRandomProjectionLSH below), with AQE skew-split on
hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.localrel import local_rows_df
from vat_etl_spark.queries import QUERIES, query
from vat_etl_spark.queries.dedup import cosine_expr, _dbl
from vat_etl_spark.sources.catalog import read_table as _t

_KNN_SQL = """
WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(q.qv, cast(e.embedding AS DOUBLE[])) AS cosine
  FROM q JOIN embeddings e ON e.vec_id != q.qid
)
SELECT qid, nid, cosine, rank FROM (
  SELECT qid, nid, cosine,
         cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("knn_bruteforce_cosine", oracle=_KNN_SQL)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 5).
    Broadcast the tiny query side; per-partition scoring + windowed top-k."""
    em = _t(spark, sf_dir, "embeddings")
    q = (
        em.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), _dbl(F.col("embedding")).alias("qv"))
    )
    e = em.select(F.col("vec_id").alias("nid"), _dbl(F.col("embedding")).alias("ev"))
    scored = (
        e.join(F.broadcast(q), F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine_expr(F.col("qv"), F.col("ev")).alias("cosine"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.select("qid", "nid", "cosine", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 5)
    )


_AXIS0_SQL = "[1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]"

_CENTROID_SQL = f"""
SELECT label, count(*) AS n_vectors,
  cast(round(sum(cast(list_cosine_similarity(cast(embedding AS DOUBLE[]),
                cast({_AXIS0_SQL} AS DOUBLE[])) AS DECIMAL(18,12))), 9)
       AS DOUBLE) AS sum_axis0_cos
FROM embeddings GROUP BY label
"""


@query("similarity_label_profile", oracle=_CENTROID_SQL)
def similarity_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cohort profile (IVF-style coarse partition statistics).
    The per-row cosines are bit-identical across engines (same fold as
    dedup_embedding_cosine), so the exact decimal(18,12) sum is
    order-independent and digit-identical (the avg is sum/n driver-side).
    12 dp: Spark rounds the shortest double repr, DuckDB the exact binary
    expansion — they agree to 12 dp but can differ at 17. The final value
    is the exact decimal sum rounded to 9 dp then cast to DOUBLE on both
    sides (one correctly-rounded conversion each) — a DOUBLE column, not
    DECIMAL, so every canonicalizer hashes it identically."""
    em = _t(spark, sf_dir, "embeddings")
    axis0 = F.array(*([F.lit(1.0)] + [F.lit(0.0)] * 63))
    cos = cosine_expr(_dbl(F.col("embedding")), axis0)
    return em.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum(cos.cast("decimal(18,12)")), 9)
        .cast("double")
        .alias("sum_axis0_cos"),
    )


_L2SQ_DUCK = (
    "list_sum(list_transform(list_zip(cast(a.embedding AS DOUBLE[]), "
    "cast(b.embedding AS DOUBLE[])), x -> (x[1]-x[2])*(x[1]-x[2])))"
)

# the oracle is the EXACT distance join — valid because the LSH config is
# sized for measured recall 1.0 at this threshold on this corpus (12 hash
# tables: zero missed pairs at sf0.001/0.01/0.1; seed + data deterministic,
# so the driver hash-pins the full approximate pipeline against exact truth,
# which is precisely the audit an LSH join needs). The distance values are
# bit-identical (same sequential squared-diff fold + one rounded sqrt).
_LSH_PAIRS_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sqrt({_L2SQ_DUCK}) AS l2_dist
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE sqrt({_L2SQ_DUCK}) < 1.2
"""


@query("ann_lsh_bucketed", oracle=_LSH_PAIRS_SQL)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via BucketedRandomProjectionLSH:
    signature buckets make the candidate join per-bucket instead of N×N —
    the 100 TB scale path for similarity join. numHashTables is sized so
    the banding misses NOTHING at the audit threshold on this corpus
    (measured recall 1.0 at every sf), which lets the DuckDB oracle be
    the exact distance join — the driver hash-verifies that the bucketed
    plan returns the complete pair set, not a sample of it."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(_dbl(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=12, seed=42,
    )
    model = lsh.fit(em)
    pairs = model.approxSimilarityJoin(em, em, 1.2, distCol="l2_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("l2_dist"),
        )
    )


_IVF_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, c.cid,
         list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cv) AS cosine
  FROM embeddings e CROSS JOIN cents c
)
SELECT vec_id, cid AS centroid_id, cosine AS centroid_cos FROM (
  SELECT vec_id, cid, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid) AS rn
  FROM scored
) WHERE rn = 1
"""


@query("ann_ivf_coarse", oracle=_IVF_SQL)
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step: assign every vector to its nearest coarse centroid
    (argmax cosine, deterministic tie-break on centroid id). Centroids here
    are the 8 lowest-id vectors so the oracle can replay the exact math; in
    production they come from k-means|| on a sample. Query-time IVF then
    probes only the nprobe nearest centroid buckets — candidate set shrinks
    from N to N·nprobe/K, and each bucket is a co-partitioned join key.
    Centroids broadcast; one window on vec_id for the argmax."""
    em = _t(spark, sf_dir, "embeddings")
    cents = (
        em.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), _dbl(F.col("embedding")).alias("cv"))
    )
    scored = em.select("vec_id", _dbl(F.col("embedding")).alias("ev")).join(
        F.broadcast(cents)
    )
    # clamp to [-1, 1]: self-pairs can fold to 1+ulp; DuckDB's
    # list_cosine_similarity clamps, so match it for bit parity
    cos = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cosine_expr(F.col("ev"), F.col("cv"))))
    w = W.partitionBy("vec_id").orderBy(F.desc(cos), F.asc("cid"))
    return (
        scored.select(
            "vec_id",
            F.col("cid"),
            cos.alias("centroid_cos"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("centroid_id"), "centroid_cos")
    )


_KNN_VEC_SQL = """
WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(q.qv, cast(e.embedding AS DOUBLE[])) AS cosine
  FROM q JOIN embeddings e ON e.vec_id != q.qid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("knn_vectorized_numpy", oracle=_KNN_VEC_SQL)
def knn_vectorized_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact top-5 kNN as knn_bruteforce_cosine, but scored with a
    numpy matmul inside mapInPandas: the query matrix rides in as a plain
    Python closure (driver-broadcast with the serialized function), each
    Arrow batch scores batch×Q in one BLAS call and emits only its local
    top-k per query; a final window merges the per-batch candidates.
    ~dim× fewer interpreter ops than the per-element SQL fold — this is the
    scale path when the built-in expression tree becomes compute-bound.
    (Ranks match the oracle; raw cosines are excluded from the contract
    because SIMD summation order differs from the sequential fold.)"""
    import numpy as np
    import pandas as pd

    em = _t(spark, sf_dir, "embeddings")
    k = 5
    qrows = em.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    qids = np.array([r.vec_id for r in qrows])
    qm = np.array([r.embedding for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    def score(it):
        for pdf in it:
            ids = pdf["vec_id"].to_numpy()
            ev = np.array(list(pdf["embedding"]), dtype=np.float64)
            ev /= np.linalg.norm(ev, axis=1, keepdims=True)
            sims = ev @ qm.T  # (batch, Q)
            out = []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid
                cand_idx = np.argsort(-col[mask])[:k]
                cids, csims = ids[mask][cand_idx], col[mask][cand_idx]
                out.append(
                    pd.DataFrame({"qid": qid, "nid": cids, "cosine": csims})
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"qid": [], "nid": [], "cosine": []}
            )

    scored = em.select("vec_id", "embedding").mapInPandas(
        score, "qid bigint, nid bigint, cosine double"
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.select("qid", "nid", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


_KM_K = 8
_KM_ITERS = 3
_KM_DIM = 64


def _km_ctes() -> str:
    """Unrolled Lloyd iterations for the DuckDB replay (the BPE-oracle
    convention: the iterative loop as a static CTE chain). Centroid
    updates are EXACT integer-micros means — bit-identical to the Spark
    trainer — and assignment tie-breaks on the lowest cid, matching
    numpy argmax's first-max rule."""
    parts = [
        f"""v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS x FROM embeddings),
cent0 AS (SELECT CAST(vec_id AS INT) AS cid, cast(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < {_KM_K})"""
    ]
    for r in range(1, _KM_ITERS + 1):
        parts.append(
            f"""a{r} AS (
  SELECT vec_id, x, cid FROM (
    SELECT v.vec_id, v.x, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY floor(list_cosine_similarity(v.x, c.cv) * 1000000.0 + 0.5) DESC,
                      c.cid) AS rn
    FROM v CROSS JOIN cent{r - 1} c) WHERE rn = 1
),
nu{r} AS (
  SELECT cid, list(m ORDER BY d) AS cv FROM (
    SELECT cid, i AS d,
           CAST(sum(CAST(floor(x[CAST(i AS INT)] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1000000.0) AS m
    FROM a{r}, UNNEST(generate_series(1, {_KM_DIM})) AS g(i)
    GROUP BY cid, i
  ) GROUP BY cid
),
cent{r} AS (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM cent{r - 1} p LEFT JOIN nu{r} n ON n.cid = p.cid
)"""
        )
    return ",\n".join(parts)


_KMEANS_SQL = (
    "WITH "
    + _km_ctes()
    + f""",
final AS (
  SELECT vec_id, cid, cos FROM (
    SELECT v.vec_id, c.cid, list_cosine_similarity(v.x, c.cv) AS cos,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY floor(list_cosine_similarity(v.x, c.cv) * 1000000.0 + 0.5) DESC,
                      c.cid) AS rn
    FROM v CROSS JOIN cent{_KM_ITERS} c) WHERE rn = 1
)
SELECT CAST(cid AS INT) AS cid, CAST(count(*) AS BIGINT) AS n_members,
       CAST(floor(CAST(sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS mean_cos_micros
FROM final GROUP BY cid
"""
)


@query("kmeans_lloyd", oracle=_KMEANS_SQL)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (K=8, 3 Lloyd iterations, deterministic init = the 8
    lowest-id vectors) over the embeddings — the iterative-refinement
    pattern of SURVEY.md §7 tier 4 done Spark-shaped:

    - the MODEL (8×64 floats) lives on the driver and broadcasts into a
      vectorized mapInPandas assignment (one numpy matmul per Arrow batch
      — the legitimate UDF case: per-row native expressions would build an
      8-way × 64-dim expression tree that defeats codegen);
    - the DATA never collects: each iteration is assign (map-only) →
      per-dimension mean aggregate (64 columns, one shuffle of K×dim
      partials), and only the K×dim centroid matrix comes back to the
      driver;
    - per-iteration lineage is cut by re-broadcasting plain Python lists,
      so the plan stays 2 stages per iteration at any scale.

    ORACLE (round-9 graduation from rows-only): centroid updates are
    EXACT integer-micros means (per-row floor(x·10⁶+0.5) — inputs are
    float32→double, so the quantization is bit-identical in both engines;
    integer sums are order-proof; the one division per dimension is IEEE-
    deterministic), so the per-iteration centroid state is bit-identical
    to the DuckDB replay (_km_ctes — unrolled CTEs, the BPE-oracle
    convention). Assignment is a MICROS-QUANTIZED argmax in both engines
    (floor(cos·10⁶+0.5) before the comparison, lowest-cid tie-break):
    raw cosines carry ulp-level BLAS-vs-fold jitter (the
    knn_vectorized_numpy caveat), and an unquantized argmax would let a
    near-equidistant pair flip assignment between engines and cascade
    through all 3 iterations — quantizing shrinks the flip window from
    per-ulp to an exact 1e-6 boundary straddle (round-10 ADVICE fix).
    Output: cluster sizes + integer-micros mean cosine."""
    import numpy as np
    import pandas as pd

    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl(F.col("embedding")).alias("ev")
    )
    dim = 64
    centroids = np.array(
        [r.ev for r in em.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    )

    def assign_fn(cents: np.ndarray):
        c = cents.copy()
        cn = c / np.linalg.norm(c, axis=1, keepdims=True)

        def go(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array(pdf["ev"].tolist())
                mn = m / np.linalg.norm(m, axis=1, keepdims=True)
                sims = mn @ cn.T
                # micros-quantized argmax (round-10 ADVICE): raw argmax
                # depends on BLAS-vs-DuckDB cosine ulps whenever two
                # centroids are near-equidistant; quantizing BOTH engines
                # to the same 1e-6 grid before the argmax shrinks the
                # flip window from per-ulp to an exact 1e-6 boundary
                # straddle. numpy first-max == lowest-cid tie-break ==
                # the oracle's ORDER BY ... DESC, cid.
                best = np.floor(sims * 1e6 + 0.5).argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cid": best.astype("int32"),
                        "cos": sims[np.arange(len(m)), best],
                        "ev": pdf["ev"],
                    }
                )

        return go

    schema = "vec_id long, cid int, cos double, ev array<double>"
    # one SQL-text parse for all 64 per-dimension means: building 64
    # aggregate Columns is ~200 py4j round-trips per iteration of pure
    # driver latency (see functions/ranks.py for the same lesson at RFM
    # scale); array(..., ...) is ONE call. The mean is the exact
    # integer-micros form (sum of floor(x·1e6+0.5) longs, one IEEE
    # division) so the centroid state is bit-identical cross-engine.
    mean_vec = F.expr(
        "array("
        + ", ".join(
            f"cast(sum(cast(floor(ev[{i}] * 1000000.0 + 0.5) as bigint)) as double)"
            f" / (cast(count(*) as double) * 1000000.0)"
            for i in range(dim)
        )
        + ")"
    ).alias("ds")
    for _ in range(_KM_ITERS):
        assigned = em.mapInPandas(assign_fn(centroids), schema=schema)
        for r in assigned.groupBy("cid").agg(mean_vec).collect():
            centroids[r.cid] = r.ds
    final = em.mapInPandas(assign_fn(centroids), schema=schema)
    return final.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.floor(
            F.sum(
                F.floor(F.col("cos") * 1000000.0 + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.count("*").cast("double")
            + F.lit(0.5)
        ).cast("long").alias("mean_cos_micros"),
    ).select(F.col("cid").cast("int").alias("cid"), "n_members", "mean_cos_micros")


_QUANT_SQL = """
WITH v AS (
  SELECT vec_id, cast(embedding AS DOUBLE[]) AS x FROM embeddings
),
m AS (
  SELECT vec_id, x,
    list_max(list_transform(x, e -> abs(e))) AS max_abs
  FROM v
)
SELECT vec_id, cast(len(x) AS INTEGER) AS n_dims, max_abs,
  list_reduce(
    list_prepend(cast(0 AS BIGINT),
      list_transform(x, e -> cast(floor((e * 127) / max_abs + 0.5) AS BIGINT))),
    (acc, q) -> (acc * 31 + q + 128) % 1000000007) AS quant_hash,
  list_reduce(
    list_prepend(cast(0 AS BIGINT),
      list_transform(x, e -> cast(floor((e * 127) / max_abs + 0.5) AS BIGINT))),
    (acc, q) -> acc + q * q) AS quant_norm_sq
FROM m WHERE max_abs > 0
"""


@query("embed_quantize_int8", oracle=_QUANT_SQL)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    calibration per vector) — the standard 4× memory/IO compression step
    before an ANN index is built or vectors are shipped to a serving tier.

    Determinism contract: the quantizer is floor(x·127/m + 0.5) — an
    explicit rule over identical IEEE doubles, NOT round() (whose half-up /
    half-away conventions differ per engine on exact .5 doubles). The
    integer norm is an ordered left fold (F.aggregate == list_reduce), so
    every output column is bit-stable. The quantized vector itself is
    pinned by ``quant_hash``, an order-sensitive polynomial rolling hash
    mod 1e9+7 (no array column in the output — canonicalizers sort/hash
    scalar rows). Scale shape: pure map — zero shuffles, scales with scan
    bandwidth; the folds keep the checksums JVM-side (no Python
    boundary)."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl(F.col("embedding")).alias("x")
    )
    m = v.withColumn(
        "max_abs", F.array_max(F.transform(F.col("x"), lambda e: F.abs(e)))
    ).where(F.col("max_abs") > 0)
    q8 = lambda e: F.floor(e * 127 / F.col("max_abs") + F.lit(0.5))  # noqa: E731
    qlist = F.transform(F.col("x"), lambda e: q8(e).cast("bigint"))
    return m.select(
        "vec_id",
        F.size("x").alias("n_dims"),
        "max_abs",
        F.aggregate(
            qlist,
            F.lit(0).cast("bigint"),
            lambda acc, q: (acc * 31 + q + 128) % F.lit(1000000007).cast("bigint"),
        ).alias("quant_hash"),
        F.aggregate(
            qlist,
            F.lit(0).cast("bigint"),
            lambda acc, q: acc + q * q,
        ).alias("quant_norm_sq"),
    )


# full DuckDB replay of the IVF probe path: every stage (coarse assign,
# probe, candidate scoring, exact truth) is the same deterministic math —
# cosine folds probed bit-identical — so the recall audit itself is
# oracle-pinned, not self-referential
_IVF_EVAL_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
q AS (
  SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
assign AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cv) DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, qv, cid AS centroid_id FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 3
),
cands AS (
  SELECT p.qid, p.qv, a.vec_id, cast(e.embedding AS DOUBLE[]) AS ev
  FROM probes p JOIN assign a USING (centroid_id)
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.qid
),
approx AS (
  SELECT qid, nid FROM (
    SELECT qid, vec_id AS nid,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY list_cosine_similarity(qv, ev) DESC, vec_id
           ) AS rk
    FROM cands
  ) WHERE rk <= 5
),
truth AS (
  SELECT qid, nid FROM (
    SELECT q.qid, e.vec_id AS nid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, cast(e.embedding AS DOUBLE[])) DESC, e.vec_id
           ) AS rk
    FROM q JOIN embeddings e ON e.vec_id <> q.qid
  ) WHERE rk <= 5
)
SELECT
  (SELECT count(*) FROM truth) AS n_truth,
  (SELECT count(*) FROM (SELECT DISTINCT qid, vec_id FROM cands)) AS n_candidates,
  (SELECT count(*) FROM truth t JOIN approx a ON a.qid = t.qid AND a.nid = t.nid) AS n_hits,
  CAST((SELECT count(*) FROM truth t JOIN approx a ON a.qid = t.qid AND a.nid = t.nid) AS DOUBLE)
    / (SELECT count(*) FROM truth) AS recall_at_5
"""


@query("ann_ivf_recall_eval", oracle=_IVF_EVAL_SQL)
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of query-time IVF probing against the exact
    brute-force ground truth (same protocol as dedup_lsh_recall_eval: the
    approximate index's RECALL is the audited quantity — precision is
    recoverable by re-scoring, recall loss is silent).

    Query-time IVF: each query (vec_id < 5) scores the 8 coarse centroids
    (broadcast), probes its nprobe=3 nearest buckets, and exact-scores only
    the vectors ASSIGNED to those buckets (assignment reuses the registered
    `ann_ivf_coarse` build step). Candidates shrink from N to
    ~N·nprobe/K; at 100 TB the bucket id is the partition key so a probe
    touches nprobe co-located partitions instead of the full corpus. One
    summary row: truth size, candidate pool size, hits, recall@5
    (tests/test_graph.py pins recall ≥ 0.8)."""
    k, nprobe = 5, 3
    em = _t(spark, sf_dir, "embeddings")
    assign = QUERIES["ann_ivf_coarse"](spark, sf_dir).select(
        "vec_id", "centroid_id"
    )
    cents = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), _dbl(F.col("embedding")).alias("cv")
    )
    queries = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _dbl(F.col("embedding")).alias("qv")
    )
    qc = queries.join(F.broadcast(cents))
    wq = W.partitionBy("qid").orderBy(
        F.desc(cosine_expr(F.col("qv"), F.col("cv"))), F.asc("cid")
    )
    probes = (
        qc.select("qid", "qv", "cid", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", F.col("cid").alias("centroid_id"))
    )
    cands = (
        probes.join(assign, "centroid_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(em.select("vec_id", _dbl(F.col("embedding")).alias("ev")), "vec_id")
    )
    wk = W.partitionBy("qid").orderBy(
        F.desc(cosine_expr(F.col("qv"), F.col("ev"))), F.asc("vec_id")
    )
    approx_topk = (
        cands.select("qid", F.col("vec_id").alias("nid"),
                     F.row_number().over(wk).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid")
    )
    truth = QUERIES["knn_bruteforce_cosine"](spark, sf_dir).select("qid", "nid")
    n_truth = truth.count()
    n_cand = cands.select("qid", "vec_id").distinct().count()
    n_hit = truth.join(approx_topk, ["qid", "nid"]).count()
    recall = (n_hit / n_truth) if n_truth else 1.0
    return local_rows_df(
        spark,
        [(n_truth, n_cand, n_hit, float(recall))],
        "n_truth long, n_candidates long, n_hits long, recall_at_5 double",
    )


_EMBED_NORM_SQL = """
WITH n AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(cast(embedding AS DOUBLE[]), x -> x * x))) AS l2,
         cast(embedding[1] AS DOUBLE) AS e0
  FROM embeddings
)
SELECT vec_id,
       cast(round(l2 * 1e6) AS BIGINT) AS l2_norm_micros,
       cast(round(e0 / (CASE WHEN l2 = 0 THEN 1.0 ELSE l2 END) * 1e9) AS BIGINT)
         AS first_component_nanos
FROM n
"""


@query("embed_normalize_arrow", oracle=_EMBED_NORM_SQL)
def embed_normalize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalization of the embedding column via ``mapInArrow`` — the
    lowest-overhead Python escape hatch (raw pyarrow RecordBatches, no
    pandas conversion on either side; cf. mapInPandas in
    knn_vectorized_numpy). Zero-copy into numpy, one vectorized
    batch-level normalize, zero-copy out. Map-only at any scale.
    Hash-verified via the shared integer-scaling trick: numpy's pairwise
    summation and DuckDB's sequential list_sum differ only at ~1e-16
    relative, so rounding the norm to micros and the normalized first
    component to nanos makes the cross-engine compare exact (the rounding
    happens JVM-side on the UDF's raw doubles, same round-half-up on both
    engines). Full-double-precision parity with a driver-side numpy
    reference stays pinned in tests/test_graph.py."""
    import numpy as np
    import pyarrow as pa

    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norm_batches(it):
        for batch in it:
            vec_ids = batch.column("vec_id")
            embs = batch.column("embedding")
            arr = np.array(embs.to_pylist(), dtype=np.float64)
            norms = np.linalg.norm(arr, axis=1)
            safe = np.where(norms == 0.0, 1.0, norms)
            first = arr[:, 0] / safe
            yield pa.RecordBatch.from_arrays(
                [vec_ids, pa.array(norms), pa.array(first)],
                names=["vec_id", "l2_norm", "first_component_normed"],
            )

    raw = em.mapInArrow(
        norm_batches, "vec_id long, l2_norm double, first_component_normed double"
    )
    return raw.select(
        "vec_id",
        F.round(F.col("l2_norm") * 1e6).cast("bigint").alias("l2_norm_micros"),
        F.round(F.col("first_component_normed") * 1e9)
        .cast("bigint")
        .alias("first_component_nanos"),
    )


# --- product quantization (PQ) -------------------------------------------------

_PQ_M = 8          # subspaces
_PQ_DIM = 8        # dims per subspace (64-dim embeddings)
_PQ_K = 16         # centroids per subspace (vec_id < 16 subvectors)

_PQ_ENCODE_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, s,
         list_slice(cast(embedding AS DOUBLE[]), s * {_PQ_DIM} + 1, s * {_PQ_DIM} + {_PQ_DIM}) AS csub
  FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)
  WHERE vec_id < {_PQ_K}
),
vecs AS (
  SELECT vec_id, s,
         list_slice(cast(embedding AS DOUBLE[]), s * {_PQ_DIM} + 1, s * {_PQ_DIM} + {_PQ_DIM}) AS vsub
  FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)
),
scored AS (
  SELECT v.vec_id, v.s, c.cid,
         list_sum(list_transform(list_zip(v.vsub, c.csub),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM vecs v JOIN cents c USING (s)
)
SELECT vec_id, CAST(s AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code FROM (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
  FROM scored
) WHERE rn = 1
"""


def _subspaces(vec_col):
    """Explode a 64-dim double array into (s, 8-dim subvector) rows."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda s: F.struct(
                s.alias("s"),
                F.slice(vec_col, s * _PQ_DIM + 1, _PQ_DIM).alias("sub"),
            ),
        )
    )


def _l2sq(a, b):
    """Squared L2 between two double arrays as the same left fold DuckDB's
    list_sum(list_transform(list_zip(...))) evaluates — probed
    bit-identical, like cosine_expr."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_centroids(em: DataFrame) -> DataFrame:
    """The PQ codebook: subvectors of the first K vectors, one row per
    (centroid, subspace). SHARED by the encoder and the recall audit so
    the audit can never silently score against a different codebook than
    the codes it joins."""
    return (
        em.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("cid"), _dbl(F.col("embedding")).alias("cv"))
        .select("cid", _subspaces(F.col("cv")).alias("sp"))
        .select("cid", F.col("sp.s").alias("s"), F.col("sp.sub").alias("csub"))
    )


@query("ann_pq_encode", oracle=_PQ_ENCODE_SQL)
def ann_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode step (Jégou et al. 2011, IEEE TPAMI
    33(1) "Product quantization for nearest neighbor search"): each
    64-dim vector is split into 8 subspaces of 8 dims and every subvector
    is replaced by the id of its nearest subspace centroid — 8 small
    codes instead of 64 floats (here 8x4 bits: a 16x compression; 256
    centroids/subspace = the classic 8-byte code at production scale).
    Codebooks are the first 16 vectors' subvectors so the oracle can
    replay the exact math (production: per-subspace k-means, the
    kmeans_lloyd convention). Output is INTEGER codes only, so the
    cross-engine hash is immune to float formatting; the argmin
    comparison uses the same left-fold squared-L2 both engines evaluate
    bit-identically (probed, like cosine_expr).

    Scale: codebooks are M*K rows (broadcast); the subspace explode is
    map-side 8x; the only shuffle is the per-(vector, subspace) argmin
    window, keyed on the high-cardinality vec_id."""
    em = _t(spark, sf_dir, "embeddings")
    cents = _pq_centroids(em)
    vecs = (
        em.select("vec_id", _dbl(F.col("embedding")).alias("ev"))
        .select("vec_id", _subspaces(F.col("ev")).alias("sp"))
        .select("vec_id", F.col("sp.s").alias("s"), F.col("sp.sub").alias("vsub"))
    )
    scored = vecs.join(F.broadcast(cents), "s").select(
        "vec_id", "s", "cid", _l2sq(F.col("vsub"), F.col("csub")).alias("d2")
    )
    w = W.partitionBy("vec_id", "s").orderBy("d2", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("s").cast("long").alias("subspace"),
            F.col("cid").cast("long").alias("code"),
        )
    )


# shared DuckDB CTE text for the PQ pipeline replay: codebook subvectors,
# integer codes (same argmin as _PQ_ENCODE_SQL), query LUT, and the
# order-fixed ADC sum (list(d2q ORDER BY s) -> list_sum left fold — the
# same fixed-order fold the Spark side runs)
_PQ_PIPE_CTES = f"""
cents AS (
  SELECT vec_id AS cid, s,
         list_slice(cast(embedding AS DOUBLE[]), s * {_PQ_DIM} + 1, s * {_PQ_DIM} + {_PQ_DIM}) AS csub
  FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)
  WHERE vec_id < {_PQ_K}
),
vsubs AS (
  SELECT vec_id, s,
         list_slice(cast(embedding AS DOUBLE[]), s * {_PQ_DIM} + 1, s * {_PQ_DIM} + {_PQ_DIM}) AS vsub
  FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)
),
codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT v.vec_id, v.s, c.cid,
           row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
             list_sum(list_transform(list_zip(v.vsub, c.csub),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid
           ) AS rn
    FROM vsubs v JOIN cents c USING (s)
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
lut AS (
  SELECT v.vec_id AS qid, v.s, c.cid AS code,
         list_sum(list_transform(list_zip(v.vsub, c.csub),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2q
  FROM vsubs v JOIN cents c USING (s)
  WHERE v.vec_id < 5
)"""


_PQ_EVAL_SQL = f"""
WITH {_PQ_PIPE_CTES},
adc AS (
  SELECT l.qid, c.vec_id, list_sum(list(l.d2q ORDER BY l.s)) AS adc_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rk
    FROM adc
  ) WHERE rk <= 10
),
truth AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(list_zip(q.qv, cast(e.embedding AS DOUBLE[])),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), e.vec_id
           ) AS rk
    FROM q JOIN embeddings e ON e.vec_id <> q.qid
  ) WHERE rk <= 10
),
hits AS (
  SELECT t.qid, count(*) AS n_hits
  FROM truth t JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
  GROUP BY t.qid
)
SELECT tr.qid, tr.n_truth,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tr.n_truth AS recall_at_10
FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_truth FROM truth GROUP BY qid) tr
LEFT JOIN hits h USING (qid)
"""


@query("ann_pq_recall_eval", oracle=_PQ_EVAL_SQL)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of PQ asymmetric-distance search against the exact
    L2 ground truth (the protocol of ann_ivf_recall_eval /
    dedup_lsh_recall_eval: recall is the audited quantity because its
    loss is silent). Query-time ADC: each query precomputes a 8x16
    lookup table of squared distances from ITS subvectors to every
    subspace centroid (M*K rows per query — broadcast); a database
    vector's approximate distance is the sum of 8 table lookups selected
    by its codes — no float vector math against the corpus at all, which
    is the entire point of PQ at 100 TB (codes are 16-64x smaller than
    vectors, and the scan is integer-keyed joins + one sum). Output: one
    row per query with recall@10.

    Determinism: the 8 looked-up terms are collected, SORTED by subspace,
    and summed by an in-row left fold — a plain F.sum over the shuffled
    rows would accumulate doubles in partition-merge order and a
    rank-10-boundary tie within one ulp could flip between runs; the
    fixed-order fold makes the ranking partition-invariant like every
    other ANN path here.

    tests/test_graph.py pins mean recall — PQ with 16 centroids per
    subspace on this clustered corpus is expected imperfect (quantization
    error) but must beat random by a wide margin."""
    k = 10
    em = _t(spark, sf_dir, "embeddings")
    codes = QUERIES["ann_pq_encode"](spark, sf_dir)
    queries = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _dbl(F.col("embedding")).alias("qv")
    )
    cents = _pq_centroids(em)
    qsub = queries.select(
        "qid", _subspaces(F.col("qv")).alias("sp")
    ).select("qid", F.col("sp.s").alias("s"), F.col("sp.sub").alias("qsub"))
    lut = qsub.join(F.broadcast(cents), "s").select(
        "qid", "s", F.col("cid").alias("code"),
        _l2sq(F.col("qsub"), F.col("csub")).alias("d2q"),
    )
    adc = (
        codes.withColumnRenamed("subspace", "s")
        .join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "d2q"))).alias("terms"))
        .select(
            "qid", "vec_id",
            F.aggregate(
                F.transform("terms", lambda t: t["d2q"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    wk = W.partitionBy("qid").orderBy("adc_dist", "vec_id")
    approx = (
        adc.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id")
    )
    ev = em.select(F.col("vec_id").alias("nid"), _dbl(F.col("embedding")).alias("ev"))
    exact_scored = ev.join(F.broadcast(queries), F.col("nid") != F.col("qid")).select(
        "qid", "nid", _l2sq(F.col("qv"), F.col("ev")).alias("d2")
    )
    we = W.partitionBy("qid").orderBy("d2", "nid")
    truth = (
        exact_scored.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("nid").alias("vec_id"))
    )
    hits = truth.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("n_hits")
    )
    return (
        truth.groupBy("qid")
        .agg(F.count("*").alias("n_truth"))
        .join(hits, "qid", "left")
        .select(
            "qid", "n_truth",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.col("n_truth")).alias("recall_at_10"),
        )
    )


# full DuckDB replay of the composed IVFADC stack (coarse probe -> ADC ->
# exact re-rank -> recall vs full-corpus truth): every float is a probed
# bit-identical fold, every rank a deterministic (value, id) tie-break, so
# the end-to-end audit is driver-hashable
_IVFPQ_SEARCH_SQL = f"""
WITH {_PQ_PIPE_CTES},
cents8 AS (
  SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(cast(e.embedding AS DOUBLE[]), c.cv) DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cents8 c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, cid AS centroid_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cents8 c
  ) WHERE rn <= 3
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE a.vec_id <> p.qid
),
adc AS (
  SELECT l.qid, c.vec_id, list_sum(list(l.d2q ORDER BY l.s)) AS adc_dist
  FROM cand JOIN codes c ON c.vec_id = cand.vec_id
  JOIN lut l ON l.qid = cand.qid AND l.s = c.s AND l.code = c.code
  GROUP BY l.qid, c.vec_id
),
short AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 30
),
rer AS (
  SELECT s.qid, s.vec_id,
         list_sum(list_transform(list_zip(q.qv, cast(e.embedding AS DOUBLE[])),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM short s JOIN q USING (qid) JOIN embeddings e ON e.vec_id = s.vec_id
),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rk
    FROM rer
  ) WHERE rk <= 10
),
truth AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(list_zip(q.qv, cast(e.embedding AS DOUBLE[])),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), e.vec_id
           ) AS rk
    FROM q JOIN embeddings e ON e.vec_id <> q.qid
  ) WHERE rk <= 10
),
hits AS (
  SELECT t.qid, count(*) AS n_hits
  FROM truth t JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
  GROUP BY t.qid
)
SELECT tr.qid,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_corpus,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates_total,
       CAST(30 AS BIGINT) AS shortlist,
       tr.n_truth,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tr.n_truth AS recall_at_10
FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_truth FROM truth GROUP BY qid) tr
LEFT JOIN hits h USING (qid)
"""


@query("ann_ivfpq_search", oracle=_IVFPQ_SEARCH_SQL)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack composed end-to-end: IVF coarse probe →
    PQ asymmetric-distance (ADC) scoring inside the probed cells → exact
    re-rank of the ADC shortlist (Jégou et al. 2011's IVFADC system,
    §IV-B). This is what a 100 TB vector store actually runs: the coarse
    quantizer cuts the corpus to ~N·nprobe/K candidates (cell id is the
    partition key — a probe touches nprobe co-located partitions), ADC
    scores those candidates from 8 integer codes + a broadcast
    (queries × M × K) lookup table without touching a single corpus float,
    and only the top `shortlist` survivors per query are re-scored against
    their true vectors.

    Reuses the registered build steps (`ann_ivf_coarse` cell assignment,
    `ann_pq_encode` codes, the shared `_pq_centroids` codebook) so the
    audit can never drift from what the engine actually indexes. Output:
    one row per query — corpus size, candidates after the IVF cut, ADC
    shortlist size, exact-rerank hits against the full-corpus L2 truth,
    recall@10. tests/test_graph.py pins mean recall at/above the
    standalone-PQ floor (the exact re-rank repairs ADC quantization-error
    misrankings inside the candidate set; the remaining recall loss is the
    IVF cut itself plus the assignment/search metric mix — cells are
    cosine-Voronoi while ADC/truth are L2; on this corpus the mix costs
    nothing measurable, and a production store would build the coarse
    quantizer in the search metric). SCALE.md records the
    candidate-reduction factor.

    Decade-scale sizing law (round-13, tools/ivfpq_decade.py at
    500 K→5 M vectors): the `shortlist` re-rank depth must scale with
    expected cell occupancy n/K, not stay a constant — at 5 M with
    K=1024, a 100-row shortlist gave a FLAT 0.36 recall across nprobe
    1→16 (the true neighbors were in the candidates; ADC at M=8 could
    not rank them into 100 rows from ~3 000 cell-mates), while 1000
    restored 0.945-0.995 at no measurable wall cost. Flat-in-nprobe
    recall is the diagnostic: it separates re-rank-depth loss from
    IVF-cut loss."""
    k, nprobe, shortlist = 10, 3, 30
    em = _t(spark, sf_dir, "embeddings")
    # serve-only: the IVF assignment / PQ codes / codebook come from the
    # persisted index (build_ivfpq_index materializes the registered
    # oracle-backed build queries; freshness-guarded on corpus row count)
    idx = load_ivfpq_index(spark, sf_dir)
    n_corpus = idx["n_vec"]
    codes = idx["codes"].withColumnRenamed("subspace", "s")
    assign = idx["assign"].select("vec_id", "centroid_id")
    cents = idx["centroids"]
    queries = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _dbl(F.col("embedding")).alias("qv")
    )
    # coarse probe: nprobe nearest cells per query, by COSINE — the metric
    # that DEFINED the cells (ann_ivf_coarse assigns by cosine): probing by
    # a different metric than the partition function would miss cells whose
    # cosine-region contains the query. Measured: recall identical to an
    # L2 probe on this corpus (near-uniform norms), but the consistency is
    # what generalizes.
    qc = queries.join(F.broadcast(cents))
    wq = W.partitionBy("qid").orderBy(
        F.desc(cosine_expr(F.col("qv"), F.col("cv"))), F.asc("cid")
    )
    probes = (
        qc.select("qid", "cid", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= nprobe)
        .select("qid", F.col("cid").alias("centroid_id"))
    )
    # candidates: vectors assigned to probed cells (cell-keyed join, never a scan)
    cand = (
        probes.join(assign, "centroid_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    n_cand = cand.count()
    # ADC: per-query LUT (queries × M × K rows, broadcast); candidate distance
    # is the sorted-fold sum of 8 integer-keyed lookups (the partition-
    # invariance discipline of ann_pq_recall_eval)
    qsub = queries.select("qid", _subspaces(F.col("qv")).alias("sp")).select(
        "qid", F.col("sp.s").alias("s"), F.col("sp.sub").alias("qsub")
    )
    lut = qsub.join(F.broadcast(idx["codebook"]), "s").select(
        "qid", "s", F.col("cid").alias("code"),
        _l2sq(F.col("qsub"), F.col("csub")).alias("d2q"),
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "d2q"))).alias("terms"))
        .select(
            "qid", "vec_id",
            F.aggregate(
                F.transform("terms", lambda t: t["d2q"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    ws = W.partitionBy("qid").orderBy("adc_dist", "vec_id")
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("qid", "vec_id")
    )
    # exact re-rank of the shortlist only (shortlist × dim floats per query)
    ev = em.select("vec_id", _dbl(F.col("embedding")).alias("ev"))
    rer = short.join(ev, "vec_id").join(F.broadcast(queries), "qid").select(
        "qid", "vec_id", _l2sq(F.col("qv"), F.col("ev")).alias("d2")
    )
    wr = W.partitionBy("qid").orderBy("d2", "vec_id")
    approx = (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id")
    )
    # full-corpus L2 truth (the audit's ground truth, not part of the search)
    exact_scored = ev.join(F.broadcast(queries), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", _l2sq(F.col("qv"), F.col("ev")).alias("d2")
    )
    we = W.partitionBy("qid").orderBy("d2", "vec_id")
    truth = (
        exact_scored.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id")
    )
    hits = truth.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("n_hits")
    )
    return (
        truth.groupBy("qid")
        .agg(F.count("*").alias("n_truth"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.lit(n_corpus).cast("long").alias("n_corpus"),
            F.lit(n_cand).cast("long").alias("n_candidates_total"),
            F.lit(shortlist).cast("long").alias("shortlist"),
            "n_truth",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.col("n_truth")).alias("recall_at_10"),
        )
    )


# --- hybrid retrieval: BM25 + vector, reciprocal-rank fusion -------------------

from vat_etl_spark.queries.text import _bm25_postings, _bm25_sql  # noqa: E402  (one BM25 source of truth)

_RRF_K = 60
# the lexical branch INTERPOLATES the registered BM25 oracle text and the
# fusion constant, so neither can silently drift from the Spark plan
_RRF_SQL = f"""
WITH lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
  FROM ( {_bm25_sql(where="WHERE doc_id <> 0")} ) bm
),
vecq AS (SELECT cast(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
vscored AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(cast(e.embedding AS DOUBLE[]), q.qv) AS cos
  FROM embeddings e, vecq q WHERE e.vec_id <> 0
),
vtop AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
  FROM vscored ORDER BY cos DESC, doc_id LIMIT 50
),
fused AS (
  SELECT coalesce(lex.doc_id, vtop.doc_id) AS doc_id,
         lex.rank_lex, vtop.rank_vec,
         coalesce(1000000 // ({_RRF_K} + rank_lex), 0)
           + coalesce(1000000 // ({_RRF_K} + rank_vec), 0) AS rrf_score
  FROM lex FULL JOIN vtop ON lex.doc_id = vtop.doc_id
)
SELECT doc_id, CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_vec AS BIGINT) AS rank_vec,
       CAST(rrf_score AS BIGINT) AS rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


@query("retrieval_hybrid_rrf", oracle=_RRF_SQL)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009,
    SIGIR, "Reciprocal rank fusion outperforms Condorcet..."): the lexical
    branch is the registered BM25 top-50 (terms 'hash join vector'), the
    vector branch is cosine top-50 against document embedding 0
    (vec_id == doc_id: document-level embeddings), and the fused score is
    the integer-scaled RRF ``sum 1e6 div (60 + rank)`` — rank-based, so
    the two branches' incomparable score scales never need calibration,
    and integer-exact so the gate hash-pins the fusion. The modern RAG
    retrieval stack in one plan.

    Scale: each branch ends in a TakeOrderedAndProject top-k (never a
    global sort); ranking the k survivors is a k-row window; the fusion
    is a full outer join of two k-row sets. Corpus-sized work is exactly
    the two branch scans, both already audited (text_bm25_ranking,
    knn_bruteforce_cosine)."""
    # doc 0 IS the query (vec_id == doc_id): exclude it from BOTH
    # branches, not just the vector one — and BEFORE each branch's top-k,
    # so the lexical depth is a true 50 even when the query doc would
    # rank (filtering after the limit silently fused only 49 candidates)
    from vat_etl_spark.queries.text import _bm25_round1

    lex = _bm25_round1(*_bm25_postings(spark, sf_dir), exclude_doc_id=0)
    wl = W.orderBy(F.desc("score"), "doc_id")
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(wl).alias("rank_lex")
    )
    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0).select(_dbl(F.col("embedding")).alias("qv"))
    vscored = (
        em.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), _dbl(F.col("embedding")).alias("ev"))
        .crossJoin(F.broadcast(q))
        .select("doc_id", cosine_expr(F.col("ev"), F.col("qv")).alias("cos"))
    )
    vtop = vscored.orderBy(F.desc("cos"), "doc_id").limit(50)
    wv = W.orderBy(F.desc("cos"), "doc_id")
    vec_ranked = vtop.select("doc_id", F.row_number().over(wv).alias("rank_vec"))
    fused = lex_ranked.join(vec_ranked, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rank_lex").cast("long").alias("rank_lex"),
        F.col("rank_vec").cast("long").alias("rank_vec"),
        (
            F.coalesce(F.expr(f"1000000 div ({_RRF_K} + rank_lex)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({_RRF_K} + rank_vec)"), F.lit(0))
        ).cast("long").alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


# --- graph-based ANN: NN-Descent (Dong et al. 2011) ---------------------------

_NND_K = 16
_NND_ROUNDS = 7
# serve-graph out-degree cap: 2K keeps every forward edge plus the most
# similar reverse edges; hub in-degree beyond that adds cost, not recall
_SERVE_DEG = 2 * _NND_K
# hash-scattered long-range links per node, cap-exempt (global
# connectivity on clustered data — HNSW's upper-layer role)
_SERVE_RND = 4


def _rank_targets(
    src: DataFrame, nodes: DataFrame, n_vec: int, seeds: list[int], id_col: str = "v"
) -> DataFrame:
    """(id_col, n) hash-scattered edges whose targets are ACTUAL node ids:
    each seed draws a rank in [1, n_vec] via pmod(xxhash64(id, seed)) and
    the rank is mapped to its vec_id through the persisted rank table.
    The pre-v6 spelling targeted pmod(hash, n_vec) DIRECTLY AS AN ID,
    which silently dangles on sparse/non-contiguous vec_ids (round-10
    ADVICE): every dangling edge is dropped by the downstream id join, so
    on a renumbered corpus the init graph thins out and the serve graph's
    global-connectivity guarantee quietly degrades. Rank scatter makes
    hitting a real node structural, not a property of the id space."""
    draws = src.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(id_col), F.lit(s)), F.lit(n_vec)) + 1
                    for s in seeds
                ]
            )
        ).alias("_rk"),
    )
    return (
        draws.join(nodes.select(F.col("rk").alias("_rk"), "vec_id"), "_rk")
        .select(id_col, F.col("vec_id").alias("n"))
        .where(F.col(id_col) != F.col("n"))
        .distinct()
    )


def _nnd_graph(em: DataFrame, nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """NN-Descent graph construction (shared by the build audit and the
    graph search): returns (initial scored graph, descended graph), both
    as (v, n, sim) edge lists with ≤ K={K} out-edges per node. See
    ann_nndescent for the algorithm and scale notes. ``nodes`` is the
    (rk, vec_id) contiguous rank table (two_pass_rank) so hash scatter
    lands on actual ids even when vec_ids are sparse."""
    k = _NND_K
    n_vec = em.count()
    src = em.select(F.col("vec_id").alias("v"), F.col("ev").alias("sv"))
    dst = em.select(F.col("vec_id").alias("n"), F.col("ev").alias("dv"))

    def score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(src, "v")
            .join(dst, "n")
            .select("v", "n", cosine_expr(F.col("sv"), F.col("dv")).alias("sim"))
        )

    # deterministic SCATTERED init (hash jumps, not a ring: a ring init
    # mixes in O(diameter) rounds; hash seeds reach every region at once)
    init = _rank_targets(
        src.select("v"), nodes, n_vec, list(range(k)), id_col="v"
    )
    b0 = score(init).localCheckpoint(eager=False)
    topk = W.partitionBy("v").orderBy(F.desc("sim"), "n")
    b = b0
    for _ in range(_NND_ROUNDS):
        fwd = b.select("v", "n")
        rev = fwd.select(F.col("n").alias("v"), F.col("v").alias("n"))
        # candidate pool = current ∪ reverse ∪ forward-2-hop. Round-10 note:
        # the textbook full local join (pairs within B[m] ∪ R[m] per anchor
        # m) was tried and measured WORSE at N=2000 (build recall 0.71 vs
        # 0.75 for this generator at equal K/rounds) — a greedier round-1
        # converges prematurely into local clusters; this leaner pool keeps
        # exploration diversity. Don't "upgrade" it without re-measuring.
        hop = (
            fwd.withColumnRenamed("n", "m")
            .join(fwd.withColumnsRenamed({"v": "m", "n": "n"}), "m")
            .select("v", "n")
        )
        cand = (
            fwd.unionByName(rev)
            .unionByName(hop)
            .where(F.col("v") != F.col("n"))
            .distinct()
        )
        b = (
            score(cand)
            .withColumn("rk", F.row_number().over(topk))
            .where(F.col("rk") <= k)
            .drop("rk")
            .localCheckpoint(eager=False)
        )
    return b0, b


_nnd_graph.__doc__ = _nnd_graph.__doc__.format(K=_NND_K)


@query("ann_nndescent")  # rows-only: float cosine ordering is Spark-specific
def ann_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN index construction via NN-Descent (Dong, Moses &
    Li 2011, WWW: 'a good neighbor of a good neighbor is likely a good
    neighbor') — the family behind HNSW/NSG, i.e. the index structure
    production vector search actually runs on, built here as pure
    DataFrame rounds with no UDF:

    - init: each vector's K={K} neighbor slots start DETERMINISTICALLY
      poor (the next K ids mod N — no randomness, so runs and engines
      see the same graph);
    - each round: candidates = current neighbors ∪ REVERSE neighbors ∪
      neighbors-of-neighbors (one self-join of the K-NN edge list on the
      shared endpoint), scored by native zip_with cosine, then top-K per
      node retained;
    - lineage cut per round (the iterative-algorithm discipline of
      graph_pagerank / kmeans_lloyd).

    Output is the built-in recall audit on a deterministic node stratum:
    per audited node, recall@10 of the INITIAL graph and of the DESCENDED
    graph vs exact brute-force cosine — the descent's improvement is the
    returned evidence, and tests/test_graph.py pins it (init ~hash
    noise ~0.03, descended 0.98 measured at sf0.01, 0.91 at sf0.1; floor 0.5).

    Scale shape: every step is keyed on node id — the candidate self-join
    is co-partitioned, per-node candidate sets are bounded by K+K+K²
    (~{K2} rows) so the per-node top-K window partitions are O(K²) never
    O(N), and the exact audit runs only on the hash stratum (the
    fixed-size-sample form every recall audit here takes at 100 TB).
    Total work per round is O(N·K²) similarity evaluations — the
    NN-Descent bound — vs O(N²) brute force.

    Round 8: the audit SERVES from the persisted index (both the
    pre-descent and descended edge lists are written by
    ``build_graph_index``), so re-running the audit costs the recall
    comparison alone, not an O(N·K²) rebuild."""
    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl(F.col("embedding")).alias("ev")
    )
    b0, _ = load_graph_index(spark, sf_dir, init=True)
    b, _ = load_graph_index(spark, sf_dir)
    dst = em.select(F.col("vec_id").alias("n"), F.col("ev").alias("dv"))

    stratum = F.pmod(F.xxhash64(F.col("vec_id"), F.lit(0xA11)), F.lit(25)) == 0
    qs = em.where(stratum).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    exact = (
        qs.join(dst, F.col("qid") != F.col("n"))
        .select("qid", "n", cosine_expr(F.col("qv"), F.col("dv")).alias("sim"))
    )
    wq = W.partitionBy("qid").orderBy(F.desc("sim"), "n")
    truth = (
        exact.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= 10)
        .select("qid", "n")
        .localCheckpoint(eager=True)
    )

    def recall_of(graph: DataFrame, out: str) -> DataFrame:
        g = graph.select(F.col("v").alias("qid"), "n")
        hits = (
            truth.join(g, ["qid", "n"])
            .groupBy("qid")
            .agg(F.count("*").alias("h"))
        )
        return truth.groupBy("qid").agg(F.count("*").alias("n_truth")).join(
            hits, "qid", "left"
        ).select(
            "qid",
            (F.coalesce(F.col("h"), F.lit(0)) / F.col("n_truth")).alias(out),
        )

    return (
        recall_of(b0, "recall_init")
        .join(recall_of(b, "recall_final"), "qid")
        .select(F.col("qid").alias("vec_id"), "recall_init", "recall_final")
    )


ann_nndescent.__doc__ = ann_nndescent.__doc__.format(K=_NND_K, K2=_NND_K * (_NND_K + 2))


_GS_SEEDS = 64
_GS_BEAM = 24
_GS_HOPS = 10

# Serve-budget presets (round-11 ask): the budget is a property of the
# DATA REGIME, not of the algorithm. The testdata embeddings are near-iid
# random — the UNNAVIGABLE worst case for graph search (top-10 cosine is
# barely above the similarity noise floor, a true-NN's neighbor list
# shares ~1 of the query's top-10) — so the audit preset carries a wide
# budget, enters from hash-SCATTERED seeds, and touches ~43 % of the
# sf0.1 corpus. Real trained embeddings cluster; there the entry problem
# changes shape: the number of clusters grows with the corpus (n/100 in
# the decade generator), so ANY fixed random-scatter budget eventually
# misses the query's cluster — measured at 20 K/200 clusters: every
# sub-audit scatter budget failed bimodally (per-query recall 1.0/0.0).
# The clustered preset therefore enters through a HUB LAYER — HNSW's
# upper layer, flattened: score the query against a deterministic
# hash-sample of 1-in-`hub_rate` nodes (no index artifact needed — pure
# hash filter) and start the beam from the best hubs. Entry is then
# similarity-SELECTED, not lucky: P(some hub in a 100-member cluster) =
# 1−(1−1/rate)^100 ≈ 98 % at rate 25 INDEPENDENT of corpus size, and the
# local beam recovers the top-k from a near-cluster entry. Per-query hub
# work is n/rate scores (map-only, broadcast queries) — sublinear
# fraction; at true web scale the hub layer itself gets a hub layer
# (that recursion is exactly HNSW's log-layer hierarchy).
# Measured by tools/ann_decade.py; SCALE.md round-11: recall + touched
# fraction at 20 K and 200 K clustered points.
SERVE_PRESETS: dict[str, dict] = {
    "audit": {
        "entry": "scatter",
        "seeds": _GS_SEEDS,
        "beam": _GS_BEAM,
        "hops": _GS_HOPS,
    },
    "clustered": {"entry": "hubs", "hub_rate": 25, "beam": 8, "hops": 4},
}


def _hub_entry_frame(dst: DataFrame, qs: DataFrame, hub_rate: int) -> DataFrame:
    """Hub-layer entry (clustered preset): score the queries against the
    deterministic 1-in-``hub_rate`` hash sample of the corpus — a pure
    filter on the embedding scan (pmod(xxhash64(node)) — NO index
    artifact), broadcast-joined to the k query vectors — and let the hop
    loop's top-beam window pick the best entries. All hub scores stay in
    the visited set (they were computed, so they count as touched work).
    Factored out (verdict-r11 task 2) so the pytest pin can assert the
    plan shape pre-checkpoint: filter + broadcast join, no index read."""
    hubs = dst.where(
        F.pmod(F.xxhash64(F.col("node"), F.lit(0x48B)), F.lit(hub_rate)) == 0
    )
    return (
        hubs.crossJoin(F.broadcast(qs))
        .where(F.col("qid") != F.col("node"))
        .select(
            "qid", "node",
            cosine_expr(F.col("qv"), F.col("dv")).alias("sim"),
        )
    )


def _graph_serve(
    spark: SparkSession,
    sf_dir: str,
    *,
    seeds: int = _GS_SEEDS,
    beam: int = _GS_BEAM,
    hops: int = _GS_HOPS,
    k: int = 10,
    n_queries: int = 5,
    entry: str = "scatter",
    hub_rate: int = 25,
) -> dict:
    """Serve-only beam search over the persisted NN-Descent serve graph —
    the budget-parameterized core shared by the registered audit query
    (ann_graph_search), the serve-only bench entry (ann_graph_serve) and
    the decade harness. Returns dict(topk, visited, qs, dst, n_vec):
    ``topk`` is the per-query top-``k`` (qid, node, sim); ``visited`` the
    scored set (its per-qid size is the touched-work metric); qs/dst are
    exposed so the audit wrapper can run the exact pass without a second
    corpus scan definition.

    Scale shape: each hop is one co-partitioned join of a (queries×beam)
    edge list against the capped-degree graph — per-query work is
    O(seeds + hops·beam·deg) ABSOLUTE, independent of N; the visited set
    grows by at most beam·deg per hop so the anti-join stays
    query-bounded; lineage cut per hop. Seeds scatter over the persisted
    rank table (v6) so they land on actual ids on any id space."""
    from pyspark.sql import Observation

    # Per-call table cache (r14, guide §2.4/§5): every hop's
    # AQE-materialized stages re-scanned the graph and embedding parquet;
    # the three reused tables persist for THIS call, and the caller's
    # release_engine_caches drops them at the run boundary. The embedding
    # frame carries a freshly named Observation, so its plan (and cache
    # entry) is new on every call and its materialization always fires
    # the fingerprint below. Round 15: the index FRESHNESS fingerprint
    # now rides the embedding cache's materialization scan as an
    # Observation instead of build_graph_index running a dedicated corpus
    # count+fingerprint agg per serve call — at 100 TB that dedicated
    # pass is a full corpus scan per call; here it was ~0.2 s/pass.
    # Same (count, bit_xor of xxhash64(vec_id, embedding)) fingerprint
    # over the same raw scan, same comparison against meta (see
    # _corpus_sig), so the same-count content-drift guarantee is
    # unchanged — the fingerprint is computed on the very rows this call
    # will serve from.
    raw = _t(spark, sf_dir, "embeddings")
    obs = Observation()
    dst = raw.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64("vec_id", "embedding")), F.lit(0)
        ).alias("fp"),
    ).select(
        F.col("vec_id").alias("node"), _dbl(F.col("embedding")).alias("dv")
    )
    qs = raw.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), _dbl(F.col("embedding")).alias("qv")
    )
    dst, qs = dst.persist(), qs.persist()
    dst.count()  # materialize the cache; fires the fingerprint observation
    sig = (int(obs.get["n"] or 0), int(obs.get["fp"] or 0))
    path = f"{_index_root(sf_dir)}/nnd_graph"
    if _meta_sig(spark, path) != sig:
        # absent/stale/unreadable meta all land here: (re)build validates
        # and records this sig, so serve can never read a stale graph
        # (the r14 fail-loud guard is subsumed — n_vec comes from the
        # live observation, never from a possibly-corrupt meta)
        build_graph_index(spark, sf_dir, sig=sig)
    n_vec = sig[0]
    graph = spark.read.parquet(f"{path}/edges_serve")
    nodes = spark.read.parquet(f"{path}/nodes")
    g = graph.select("v", "n").persist()

    def score(cand: DataFrame) -> DataFrame:
        # NO static broadcast hint on cand (round-15 negative result,
        # OPTIMIZATION_r15.md): cand is absolutely bounded
        # (≤ queries·beam·deg) so broadcasting it into the dst join is
        # tempting scale insurance, but the hint forces a per-hop
        # broadcast-build job and measured +0.5 s/call at sf0.1
        # (interleaved A/B), while at scale AQE already converts this
        # join from the materialized frontier exchange's runtime size.
        return (
            cand.join(qs, "qid")
            .join(dst, "node")
            .where(F.col("qid") != F.col("node"))
            .select(
                "qid", "node",
                cosine_expr(F.col("qv"), F.col("dv")).alias("sim"),
            )
        )

    if entry == "hubs":
        visited = _hub_entry_frame(dst, qs, hub_rate).localCheckpoint(
            eager=True
        )
    else:
        seed_nodes = (
            _rank_targets(
                qs.select("qid"), nodes, n_vec,
                [100 + i for i in range(seeds)],
                id_col="qid",
            )
            .withColumnRenamed("n", "node")
        )
        visited = score(seed_nodes).localCheckpoint(eager=True)
    wq = W.partitionBy("qid").orderBy(F.desc("sim"), "node")
    # Round-15 hop-loop shape (guide §1.2; per-hop profile and the
    # interleaved A/B in OPTIMIZATION_r15.md): checkpoints are EAGER and
    # the loop exits at the fixed point. visited_{h+1} = visited_h ∪
    # score(frontier(visited_h)) is a deterministic function of
    # visited_h, and new rows are disjoint from visited (the anti-join),
    # so an unchanged count means visited is EXACTLY unchanged and every
    # later hop is a no-op — the audit preset converges in 6-7 of its 10
    # budgeted hops on the bench corpus, and a converged hop costs the
    # same ~0.3 s of scheduler/AQE rounds as a productive one. Results
    # bit-identical by construction (fixed point), serve fingerprint
    # re-checked in OPTIMIZATION_r15.md. The count-per-hop rides the
    # eager checkpoint's cached blocks (~30 ms); interleaved A/B:
    # lazy 4.31 s vs eager+exit 3.77 s median at sf0.1.
    n_prev = visited.count()
    for _ in range(hops):
        bm = (
            visited.withColumn("rk", F.row_number().over(wq))
            .where(F.col("rk") <= beam)
            .select("qid", F.col("node").alias("v"))
        )
        frontier = (
            bm.join(g, "v")
            .select("qid", F.col("n").alias("node"))
            .distinct()
            .join(visited.select("qid", "node"), ["qid", "node"], "left_anti")
        )
        visited = visited.unionByName(score(frontier)).localCheckpoint(
            eager=True
        )
        n_now = visited.count()
        if n_now == n_prev:
            break
        n_prev = n_now

    topk = (
        visited.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
        .select("qid", "node", "sim")
    )
    return {
        "topk": topk,
        "visited": visited,
        "qs": qs,
        "dst": dst,
        "n_vec": n_vec,
    }


def ann_graph_serve(
    spark: SparkSession, sf_dir: str, preset: str = "audit"
) -> DataFrame:
    """THE THING THAT SHIPS: serve-only beam search against the persisted
    graph index — per-query top-10 (qid, node, sim) plus n_scored (the
    work actually done). No exact-truth pass: the O(N·queries) brute-force
    audit lives in the registered ann_graph_search / pytest tier, so the
    bench gate measures search latency, not the evaluation harness
    (round-10 verdict: the audit dominated the benched wall and the gate
    kept re-flagging the recall budget). Bench entry 'ann_graph_serve'
    times this with the audit preset on the near-iid testdata."""
    s = _graph_serve(spark, sf_dir, **SERVE_PRESETS[preset])
    n_scored = s["visited"].groupBy("qid").agg(
        F.count("*").alias("n_scored")
    )
    return s["topk"].join(n_scored, "qid")


@query("ann_graph_search")  # rows-only: float cosine ordering is Spark-specific
def ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam search over the NN-Descent graph — the query half of
    graph-based ANN (what HNSW/NSG do at serve time), batched
    Spark-shaped: ALL queries advance one hop per round through one
    edge-list join, instead of one query walking pointer-by-pointer.

    Per query: {S} rank-scattered seed nodes are scored, then {H} hops of
    [take the current beam (top-{B} scored so far) → expand every beam
    member's out-edges via one join against the graph → score only
    never-visited candidates] — monotone by construction (the beam only
    improves), deterministic (hash seeds + (sim desc, id) tie-break).
    The expansion runs over the REVERSE-AUGMENTED serve graph
    (``edges_serve``: forward ∪ reverse edges, degree-capped, plus
    cap-exempt long-range links — what NSW/HNSW store by construction);
    a directed K-NN graph leaves n→v edges with no v→n back-edge and
    beam search never reaches n, which capped serve recall at 0.64
    before round 10.

    This registered query is the serving AUDIT (the serve core itself is
    _graph_serve / ann_graph_serve — benched separately since round 11 so
    the regression gate measures search, not this harness): per query,
    recall@10 of the beam vs exact brute force, plus n_scored — the
    corpus fraction the search actually touched (pytest pins
    recall ≥ 0.8; measured 0.96 at sf0.1 at N=2000, 0.98 at sf0.01, and
    1.0 at BOTH 2 K and 20 K on clustered vectors with the touched
    fraction falling 36% → 6.9% — tools/ann_decade.py). Budget presets:
    SERVE_PRESETS — 'audit' ({S}/{B}/{H}) is sized for near-iid data,
    'clustered' for the production regime (SCALE.md round-11 measures
    its recall + touched fraction at 20 K / 200 K).

    The graph is SERVED from the persisted index (``build_graph_index``
    — built once, reused across calls, rebuilt only when the corpus
    count or content fingerprint changes), so this query's cost is
    search + the exact-truth audit, which is the evaluation harness, not
    the search."""
    return graph_search_audit(spark, sf_dir, preset="audit")


def graph_search_audit(
    spark: SparkSession, sf_dir: str, preset: str = "audit"
) -> DataFrame:
    """The exact-truth recall audit under any SERVE_PRESETS budget — the
    body of ann_graph_search, parameterized so tools/ann_decade.py can
    measure the clustered/production preset's recall + touched fraction
    on seeded clustered corpora."""
    s = _graph_serve(spark, sf_dir, **SERVE_PRESETS[preset])
    qs, dst, n_vec = s["qs"], s["dst"], s["n_vec"]
    wq = W.partitionBy("qid").orderBy(F.desc("sim"), "node")
    result = s["topk"].select("qid", "node")
    exact = (
        qs.join(dst, F.col("qid") != F.col("node"))
        .select(
            "qid", "node", cosine_expr(F.col("qv"), F.col("dv")).alias("sim")
        )
    )
    truth = (
        exact.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= 10)
        .select("qid", "node")
    )
    hits = result.join(truth, ["qid", "node"]).groupBy("qid").agg(
        F.count("*").alias("h")
    )
    n_scored = s["visited"].groupBy("qid").agg(F.count("*").alias("n_scored"))
    return (
        truth.groupBy("qid").agg(F.count("*").alias("n_truth"))
        .join(hits, "qid", "left")
        .join(n_scored, "qid")
        .select(
            F.col("qid").alias("vec_id"),
            (F.coalesce(F.col("h"), F.lit(0)) / F.col("n_truth")).alias(
                "recall_at_10"
            ),
            "n_scored",
            F.lit(n_vec).alias("n_corpus"),
        )
    )


ann_graph_search.__doc__ = ann_graph_search.__doc__.format(
    S=_GS_SEEDS, B=_GS_BEAM, H=_GS_HOPS
)


# --- persisted ANN indexes: build once, serve many -----------------------------
#
# Production vector search builds its index ONCE (a batch job) and serves
# queries against the persisted structure; rebuilding per query would make
# every search O(build). These builders persist the NN-Descent graph and
# the IVF+PQ artifacts as parquet keyed on their serve-time join keys (the
# same discipline as the streaming corpus key index), with a
# (row count, content fingerprint) freshness guard: a serve call against
# a corpus whose size OR content changed triggers a rebuild rather than
# silently searching a stale index — count alone would miss the
# same-count content drift an incremental corpus rebuild produces.
# At 100 TB the graph is a bucketed table on `v` and the IVF lists are
# partitioned by cell id — both written here in exactly that layout.

_IDX_ENV = "VAT_ETL_INDEX_DIR"
_IDX_BUCKETS = 16


def _index_root(sf_dir: str) -> str:
    """Index directory for a corpus: $VAT_ETL_INDEX_DIR (or the repo's
    artifacts/indexes) + the corpus directory's basename."""
    import os

    base = os.environ.get(_IDX_ENV) or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "artifacts",
        "indexes",
    )
    return os.path.join(base, os.path.basename(os.path.normpath(sf_dir)))


# bump when the on-disk index LAYOUT changes
# (v2: +edges_init; v3: meta carries the corpus content fingerprint;
#  v4: +edges_serve — reverse-edge-augmented, degree-capped serve graph;
#  v5: edges_serve carries cap-exempt hash-random long-range links;
#  v6: +nodes rank table — links/seeds scatter over ranks joined to
#      actual ids, so sparse vec_ids can't dangle)
_IDX_VERSION = 6


def _corpus_sig(em: DataFrame) -> tuple[int, int]:
    """(row count, content fingerprint) of a vector corpus in ONE scan:
    the fingerprint is the order-insensitive bit_xor of
    xxhash64(vec_id, embedding). A row-count guard alone silently serves
    a stale index when content changed but N did not — exactly the
    incremental-rebuild case `build_corpus` makes routine — so freshness
    compares BOTH. xor is commutative (partition-order-proof); the only
    xor blind spot (a row appearing an even number of times toggling
    out) is covered by the count also having to match AND vec_id making
    rows distinct. Cost (round-10 ADVICE correction): this is a REAL
    data scan of the two hashed columns — the old count() guard was
    typically satisfied from parquet footer metadata alone, so freshness
    now costs one narrow column scan per serve entry, not zero. That is
    the price of catching same-count content drift; if it matters at
    scale, cache the fingerprint per (path, mtime) or check it only
    after the cheap count matches (the count mismatch fast-path already
    skips it implicitly, since both live in the same aggregate)."""
    r = em.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64("vec_id", "embedding")), F.lit(0)
        ).alias("fp"),
    ).collect()[0]
    return int(r.n), int(r.fp)


def _meta_sig(spark: SparkSession, path: str) -> tuple[int, int] | None:
    """(n_vec, fingerprint) recorded in an index's meta file, or None if
    absent, unreadable, or written by an older layout version (format
    changes force a rebuild — a content match alone must not validate an
    index missing files the current readers expect)."""
    import os

    if not os.path.isdir(f"{path}/meta"):  # local-FS fast path, no JVM error log
        return None
    try:
        row = spark.read.parquet(f"{path}/meta").collect()[0]
        if ("version" not in row.__fields__) or row.version != _IDX_VERSION:
            return None
        return (row.n_vec, row.fp)
    except Exception:
        return None


def _meta_n_vec(spark: SparkSession, path: str) -> int | None:
    """n_vec from the meta file (serve-side seed modulus); None if stale."""
    sig = _meta_sig(spark, path)
    return None if sig is None else sig[0]


def _write_meta(spark: SparkSession, path: str, n_vec: int, fp: int) -> None:
    # JVM local relation: coalesce(1) over a pickled-RDD frame serializes
    # 32 Python-worker handshakes into one task (functions/localrel.py)
    local_rows_df(
        spark,
        [(n_vec, fp, _NND_K, _NND_ROUNDS, _IDX_VERSION)],
        "n_vec long, fp long, k int, rounds int, version int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def build_graph_index(
    spark: SparkSession, sf_dir: str, force: bool = False,
    sig: tuple[int, int] | None = None,
) -> str:
    """Build & persist the NN-Descent graph (the batch half of graph ANN):
    the descended (v, n, sim) edge list, hash-partitioned and sorted on
    the serve-time join key ``v``. Idempotent: a fresh index (same corpus
    row count AND content fingerprint) is left untouched unless
    ``force``. ``sig``: a (row count, fingerprint) the CALLER already
    computed over this corpus (round 15: _graph_serve rides the
    fingerprint on its per-call cache materialization scan — guide
    §2.4), accepted in place of a dedicated _corpus_sig scan; it feeds
    the same freshness comparison and is what gets recorded in meta on a
    rebuild, so a wrong caller value fails closed into a rebuild, never
    into serving a stale index."""
    path = f"{_index_root(sf_dir)}/nnd_graph"
    raw = _t(spark, sf_dir, "embeddings")
    em = raw.select("vec_id", _dbl(F.col("embedding")).alias("ev"))
    n_vec, fp = sig if sig is not None else _corpus_sig(raw)
    if not force and _meta_sig(spark, path) == (n_vec, fp):
        return path
    # contiguous 1-based rank ↔ vec_id bijection (range-partitioned
    # two-pass rank, no single-partition window): hash scatter draws a
    # rank and joins through this table, so init edges, long-range links
    # and serve seeds land on ACTUAL ids even when vec_ids are sparse
    # (v6; round-10 ADVICE — pmod(hash, n_vec) as a direct id dangles on
    # non-contiguous corpora). Persisted with the index: the serve side
    # needs the same bijection for seed scatter.
    from vat_etl_spark.functions.ranks import two_pass_rank

    nodes = two_pass_rank(
        em.select("vec_id"), [("vec_id", "asc")], rank_col="rk"
    ).localCheckpoint(eager=True)
    (
        nodes.repartition(_IDX_BUCKETS, "rk")
        .sortWithinPartitions("rk")
        .write.mode("overwrite")
        .parquet(f"{path}/nodes")
    )
    init, graph = _nnd_graph(em, nodes)
    (
        graph.repartition(_IDX_BUCKETS, "v")
        .sortWithinPartitions("v")
        .write.mode("overwrite")
        .parquet(f"{path}/edges")
    )
    # serve graph: UNDIRECTED (forward ∪ reverse) edges, degree-capped.
    # A directed K-NN graph is poorly navigable — a node n close to the
    # query may list the beam's current node v among ITS neighbors while
    # v's own K slots are saturated elsewhere, so the n→v edge exists but
    # v→n does not and beam search never reaches n. Reversing every edge
    # (what NSW/HNSW do by construction) closes exactly that gap at
    # build time, where it is one extra co-partitioned union + top-cap,
    # instead of at serve time where it would double every hop join.
    wdeg = W.partitionBy("v").orderBy(F.desc("sim"), "n")
    near = (
        graph.select("v", "n", "sim")
        .unionByName(
            graph.select(
                F.col("n").alias("v"), F.col("v").alias("n"), "sim"
            )
        )
        .groupBy("v", "n")
        .agg(F.max("sim").alias("sim"))
        .withColumn("rk", F.row_number().over(wdeg))
        .where(F.col("rk") <= _SERVE_DEG)
        .drop("rk")
    )
    # LONG-RANGE links (round 10): on clustered embeddings every node's
    # K-NN edges are intra-cluster, so the pure K-NN serve graph is as
    # many disconnected components as there are clusters and beam search
    # can never leave the seeds' clusters (measured: bimodal 1.0/0.0
    # per-query recall at 20 K points / 200 clusters). A few
    # hash-scattered random edges per node restore expander-like global
    # connectivity — the role of HNSW's upper layers — and MUST bypass
    # the similarity degree cap (random links always lose a sim
    # ordering). sim = -1 marks them; serve only reads (v, n).
    # v6 (round-11 ADVICE): targets are drawn as RANKS over [1, n−1]
    # with a shift past the node's own rank — so every link structurally
    # lands on an actual, distinct node (never self, never a dangling
    # id) and each node keeps exactly _SERVE_RND draws (distinct targets
    # may collapse below that only when two seeds draw the same rank).
    if n_vec >= 2:
        draws = nodes.select(
            F.col("vec_id").alias("v"),
            F.col("rk").alias("_self"),
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.lit(0x10 + i)),
                            F.lit(n_vec - 1),
                        )
                        + 1
                        for i in range(_SERVE_RND)
                    ]
                )
            ).alias("_u"),
        ).select(
            "v",
            (
                F.col("_u")
                + F.when(F.col("_u") >= F.col("_self"), 1).otherwise(0)
            ).alias("_rk"),
        )
        rnd = (
            draws.join(
                nodes.select(F.col("rk").alias("_rk"), "vec_id"), "_rk"
            )
            .select("v", F.col("vec_id").alias("n"), F.lit(-1.0).alias("sim"))
            .distinct()
        )
        serve = near.unionByName(rnd).groupBy("v", "n").agg(
            F.max("sim").alias("sim")
        )
    else:
        serve = near
    (
        serve.repartition(_IDX_BUCKETS, "v")
        .sortWithinPartitions("v")
        .write.mode("overwrite")
        .parquet(f"{path}/edges_serve")
    )
    # the pre-descent graph is persisted too: the build-quality audit
    # (ann_nndescent) compares init vs descended recall, and serving both
    # from the index means the audit never re-runs the O(N·K²) build
    (
        init.repartition(_IDX_BUCKETS, "v")
        .sortWithinPartitions("v")
        .write.mode("overwrite")
        .parquet(f"{path}/edges_init")
    )
    _write_meta(spark, path, n_vec, fp)
    return path


def load_graph_index(
    spark: SparkSession, sf_dir: str, init: bool = False, serve: bool = False
):
    """(edge DataFrame, n_vec) of the persisted NN-Descent graph, building
    it first if absent or stale — serve callers never rebuild a fresh one.
    ``init=True`` returns the pre-descent graph (the audit's baseline);
    ``serve=True`` the reverse-augmented degree-capped navigation graph."""
    path = build_graph_index(spark, sf_dir)
    which = "edges_init" if init else ("edges_serve" if serve else "edges")
    return spark.read.parquet(f"{path}/{which}"), _meta_n_vec(spark, path)


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build & persist the IVF+PQ artifacts from the registered
    (oracle-backed) build queries: the IVF assignment partitioned by cell
    id (a probe prunes to its nprobe directories), the PQ codes keyed on
    vec_id, and the small codebook/centroid tables the serve side
    broadcasts. Same freshness guard as the graph index."""
    path = f"{_index_root(sf_dir)}/ivfpq"
    em = _t(spark, sf_dir, "embeddings")
    n_vec, fp = _corpus_sig(em)
    if not force and _meta_sig(spark, path) == (n_vec, fp):
        return path
    assign = QUERIES["ann_ivf_coarse"](spark, sf_dir)
    assign.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assign"
    )
    codes = QUERIES["ann_pq_encode"](spark, sf_dir)
    codes.repartition(_IDX_BUCKETS, "vec_id").sortWithinPartitions(
        "vec_id"
    ).write.mode("overwrite").parquet(f"{path}/codes")
    _pq_centroids(em).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebook"
    )
    em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), _dbl(F.col("embedding")).alias("cv")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_meta(spark, path, n_vec, fp)
    return path


def load_ivfpq_index(spark: SparkSession, sf_dir: str) -> dict:
    """Persisted IVF+PQ artifacts as DataFrames (building if stale)."""
    path = build_ivfpq_index(spark, sf_dir)
    return {
        "assign": spark.read.parquet(f"{path}/assign"),
        "codes": spark.read.parquet(f"{path}/codes"),
        "codebook": spark.read.parquet(f"{path}/codebook"),
        "centroids": spark.read.parquet(f"{path}/centroids"),
        "n_vec": _meta_n_vec(spark, path),
    }
