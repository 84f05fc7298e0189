"""Graph analytics over relationship edges derived from the star schema.

The reference has no graph surface; this is engine-class capability for the
entity-graph workloads a training-data pipeline meets (supplier/customer
linkage, near-dup clusters — see dedup_connected_components for the other
iterative graph op). Spark-first shape: edges and ranks are plain
DataFrames co-partitioned on the join key; each iteration is one
key-partitioned join + one aggregation, with lineage truncated per round so
the plan stays flat at any iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


_PAGERANK_SQL = """
WITH RECURSIVE
pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000000 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r(iter, node, rank) AS (
  SELECT 0, src, CAST(1000000 AS BIGINT) FROM (SELECT DISTINCT src FROM edges)
  UNION ALL
  SELECT r.iter + 1, e.dst, 150000 + (17 * sum(r.rank // deg.d)) // 20
  FROM r JOIN edges e ON e.src = r.node JOIN deg ON deg.src = r.node
  WHERE r.iter < 5
  GROUP BY r.iter, e.dst
)
SELECT CASE WHEN node >= 1000000000 THEN node - 1000000000 ELSE node END
         AS node_id,
       CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END
         AS node_type,
       rank AS rank_micros
FROM r WHERE iter = 5
"""


@query("graph_pagerank", oracle=_PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 Jacobi iterations, damping 0.85) on the customer-supplier
    trade graph: an undirected edge per distinct (custkey, suppkey) pair
    that co-occurs in an order, spelled as two directed edges.

    Each iteration: contributions = edges ⋈ ranks on src (both sides hash-
    partitioned on the key — one co-partitioned shuffle), then a sum per
    dst. ``localCheckpoint`` truncates lineage so iteration N's plan does
    not embed iterations 1..N-1 (the standard Spark iterative-algorithm
    discipline, same as dedup_connected_components). No dangling-node term
    is needed because the symmetric edge set gives every node out-degree
    ≥ 1.

    Integer-exact on purpose (same policy as text_kneser_ney_bigram):
    ranks are int64 MICROS, each edge contributes ``rank div deg`` and the
    damping update is ``150000 + (17*inflow) div 20`` — pure int64, so the
    result is bit-identical across engines, partition layouts, and
    accumulation orders, and the op graduates from rows-only to a full
    hash-verified oracle (a DuckDB recursive CTE with an aggregate in the
    recursive term runs the same 5 Jacobi steps). Truncation loses < 1
    micro per edge per step — irrelevant for ranking, invaluable for the
    cross-engine gate. Headroom: 17·inflow needs total mass < 5e17 micros
    ≈ 5e11 nodes. Determinism, rank positivity, and mass conservation
    remain pinned in tests/test_graph.py."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + F.lit(1_000_000_000)).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    ).localCheckpoint(eager=False)
    degree = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select("src").distinct()
    ranks = nodes.select("src", F.lit(1_000_000).cast("long").alias("rank"))

    for _ in range(5):
        contribs = (
            edges.join(ranks, "src")
            .join(degree, "src")
            .select(F.col("dst").alias("src"), F.expr("rank div deg").alias("c"))
        )
        ranks = (
            nodes.join(
                contribs.groupBy("src").agg(F.sum("c").alias("inflow")), "src", "left"
            )
            .select(
                "src",
                F.expr("150000 + (17 * coalesce(inflow, 0L)) div 20").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )

    is_supplier = F.col("src") >= 1_000_000_000
    node_id = F.when(is_supplier, F.col("src") - 1_000_000_000).otherwise(F.col("src"))
    return ranks.select(
        node_id.alias("node_id"),
        F.when(is_supplier, "supplier").otherwise("customer").alias("node_type"),
        F.col("rank").alias("rank_micros"),
    )


_TRIANGLE_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
o AS (
  SELECT
    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst,
    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS ddst
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM o e1
  JOIN o e2 ON e1.src = e2.src
   AND ((e1.ddst < e2.ddst) OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
tot AS (
  SELECT count(*) AS n_edges,
    (SELECT count(*) FROM deg) AS n_nodes,
    (SELECT sum(d * (d - 1) // 2) FROM deg) AS n_wedges
  FROM e
)
SELECT n_nodes, n_edges, cast(n_wedges AS BIGINT) AS n_wedges, n_triangles,
  cast(3 * n_triangles AS DOUBLE) / cast(n_wedges AS DOUBLE) AS transitivity
FROM tot CROSS JOIN tri
"""


@query("graph_triangle_count", oracle=_TRIANGLE_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global transitivity on the part co-purchase graph
    (edge = two parts sharing an order), using the DEGREE-ORIENTED
    algorithm: each undirected edge points from its lower-degree endpoint
    to the higher (ties by id), wedges enumerate only at each edge's
    cheaper endpoint, and every triangle is counted exactly once.

    This orientation is what makes triangle counting survive skew at
    100 TB: wedge work per node drops from C(deg,2) on hubs to
    C(out-deg,2) where out-degree is bounded by ~sqrt(|E|) (Schank &
    Wagner 2005) — a celebrity node with 1M neighbors generates ~0
    oriented wedges instead of 5·10^11. Three hash joins, all keyed on
    node ids; the degree table is node-cardinality and broadcasts."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("v"))
    # The edge list feeds FIVE consumers (deg, both orientation sides, tot,
    # and transitively e1/e2/e3): Catalyst does not dedupe common subtrees,
    # so without persist the lineitem self-join would run five times.
    e = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    e = e.persist()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("nu"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("nv"), F.col("d").alias("dv"))
    ej = e.join(du, F.col("u") == F.col("nu")).join(
        dv, F.col("v") == F.col("nv")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ej.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )
    o = o.persist()  # e1/e2/e3
    e1 = o.select(F.col("src").alias("s1"), F.col("dst").alias("a1"), F.col("ddst").alias("da"))
    e2 = o.select(F.col("src").alias("s2"), F.col("dst").alias("b2"), F.col("ddst").alias("db"))
    e3 = o.select(F.col("src").alias("s3"), F.col("dst").alias("d3"))
    wedge_lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a1") < F.col("b2"))
    )
    tri = (
        e1.join(e2, (F.col("s1") == F.col("s2")) & wedge_lt)
        .join(e3, (F.col("s3") == F.col("a1")) & (F.col("d3") == F.col("b2")))
        .agg(F.count("*").alias("n_triangles"))
    )
    tot = e.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
        )
    )
    return tot.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("transitivity"),
    )


_BFS_SQL = """
WITH RECURSIVE edges AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  )
  UNION ALL
  SELECT s * 2 + 1, c * 2 FROM (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  )
),
bfs(node, dist) AS (
  SELECT DISTINCT src, 0 FROM edges WHERE src % 2 = 0 AND src % 1000 = 0
  UNION ALL
  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.dist < 2
)
SELECT node // 2 AS node_id,
  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
  min(dist) AS dist
FROM bfs GROUP BY 1, 2
"""


@query("graph_bfs_reachability", oracle=_BFS_SQL)
def graph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS shortest hop-distance (≤2 hops) over the
    customer↔supplier trade graph, written as a NATIVE Spark 4 recursive
    CTE (`WITH RECURSIVE`, SPARK-24497) — the same text shape DuckDB runs
    as the oracle, so the recursion semantics themselves are what's
    verified.

    Seeds are every 500th customer; nodes are parity-encoded
    (customer=2k, supplier=2k+1) so each BFS step is ONE equi-join on the
    symmetric edge list — no OR-condition (an OR join degenerates to a
    nested-loop at scale). Path multiplicity under UNION ALL is collapsed
    by the final min(dist) group-by; the hop bound keeps the frontier
    polynomial. For unbounded-diameter graphs the scale path is the
    iterative DataFrame loop with lineage truncation
    (dedup_connected_components) — a recursive CTE's working table is
    driver-managed and capped (spark.sql.cteRecursionLevelLimit)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c2"),
            (F.col("l_suppkey") * 2 + 1).alias("s2"),
        )
        .distinct()
    )
    # Persist: the recursion's step query re-reads this view every
    # iteration (plus the anchor's seed scan) — without it each BFS hop
    # would re-run the fact join that derives the edge list.
    edges = (
        pairs.select(F.col("c2").alias("src"), F.col("s2").alias("dst"))
        .unionAll(pairs.select(F.col("s2").alias("src"), F.col("c2").alias("dst")))
    )
    edges = edges.persist()
    edges.createOrReplaceTempView("bfs_edges_v")
    return spark.sql(
        """
        WITH RECURSIVE bfs(node, dist) AS (
          SELECT DISTINCT src, 0 FROM bfs_edges_v
          WHERE src % 2 = 0 AND src % 1000 = 0
          UNION ALL
          SELECT e.dst, b.dist + 1 FROM bfs b JOIN bfs_edges_v e ON e.src = b.node
          WHERE b.dist < 2
        )
        SELECT node div 2 AS node_id,
          CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
          min(dist) AS dist
        FROM bfs GROUP BY 1, 2
        """
    )
