"""Invariants for graph_pagerank (oracle-verified since the integer-micros
rewrite — these tests pin the graph-shaped properties the value hash
can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches


def _ranks(spark, sf_smoke):
    return {
        (r["node_type"], r["node_id"]): r["rank_micros"]
        for r in QUERIES["graph_pagerank"](spark, sf_smoke).collect()
    }


def test_pagerank_deterministic_and_positive(spark, sf_smoke):
    a = _ranks(spark, sf_smoke)
    release_engine_caches(spark)  # the second build recomputes
    b = _ranks(spark, sf_smoke)
    # integer-micros ranks: int64 sums are accumulation-order-free, so
    # re-execution equality is EXACT (this is what lets the op carry a
    # cross-engine hash oracle)
    assert a == b
    assert all(isinstance(r, int) and r >= 150_000 for r in a.values())


def test_pagerank_mass_and_structure(spark, sf_smoke):
    ranks = _ranks(spark, sf_smoke)
    n = len(ranks)
    total = sum(ranks.values())
    # total rank mass stays near n*1e6 micros (teleport term keeps it
    # bounded; integer truncation loses < 1 micro per edge per step)
    assert 0.8 * n * 1_000_000 <= total <= 1.2 * n * 1_000_000
    # the graph is bipartite customer<->supplier: both types present
    types = {t for t, _ in ranks}
    assert types == {"customer", "supplier"}
    # suppliers are far fewer and aggregate trade flows from many customers,
    # so the max-rank node should be a supplier
    assert max(ranks, key=ranks.get)[0] == "supplier"


def test_embed_normalize_arrow_matches_numpy(spark, sf_smoke):
    """mapInArrow path parity: norms and normalized components must equal a
    driver-side numpy reference on the same vectors."""
    import numpy as np

    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.sources.catalog import read_table

    got = {r.vec_id: (r.l2_norm_micros, r.first_component_nanos)
           for r in QUERIES["embed_normalize_arrow"](spark, sf_smoke).collect()}
    src = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in read_table(spark, sf_smoke, "embeddings").collect()}
    assert set(got) == set(src)
    # reference uses the 2D-axis norm code path (sqrt(sum(x*x))) — numpy's
    # 1D norm goes through BLAS nrm2 and rounds differently in the last ulp.
    # Query output is integer-scaled (the cross-engine-exact form); the
    # numpy reference applies the same scaling.
    ids = sorted(src)
    mat = np.stack([src[i] for i in ids])
    norms = np.linalg.norm(mat, axis=1)
    for i, vid in enumerate(ids):
        n = float(norms[i])
        f = float(mat[i, 0] / (n if n else 1.0))
        assert abs(got[vid][0] - n * 1e6) <= 0.501
        assert abs(got[vid][1] - f * 1e9) <= 0.501


def test_pq_recall_beats_random_by_wide_margin(spark, sf_smoke):
    """PQ with 16 centroids/subspace is expectedly coarse (quantization
    error), but ADC ranking must still carry strong signal: mean
    recall@10 >= 0.15 where random selection scores ~10/N (~0.02).
    Measured 0.32 at sf0.01 — the bound leaves drift margin without
    letting the path silently degenerate to noise."""
    from vat_etl_spark.queries import QUERIES

    rows = QUERIES["ann_pq_recall_eval"](spark, sf_smoke).collect()
    assert len(rows) == 5
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert mean >= 0.15, [tuple(r) for r in rows]
    assert all(r.n_truth == 10 for r in rows)


def test_hybrid_rrf_fuses_both_branches(spark, sf_smoke):
    """RRF must actually fuse: the top-20 contains documents found by only
    one branch on each side, a doc ranked by BOTH branches outscores one
    with the same single-branch rank alone, the score formula is the
    exact integer RRF of the reported ranks, and the query document
    (doc 0) is excluded from both branches."""
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.similarity import _RRF_K

    rows = QUERIES["retrieval_hybrid_rrf"](spark, sf_smoke).collect()
    assert len(rows) == 20
    assert all(r.doc_id != 0 for r in rows)
    for r in rows:
        expected = 0
        if r.rank_lex is not None:
            expected += 1000000 // (_RRF_K + r.rank_lex)
        if r.rank_vec is not None:
            expected += 1000000 // (_RRF_K + r.rank_vec)
        assert r.rrf_score == expected, tuple(r)
    both = [r for r in rows if r.rank_lex is not None and r.rank_vec is not None]
    only_lex = [r for r in rows if r.rank_vec is None]
    only_vec = [r for r in rows if r.rank_lex is None]
    # fusion promotes agreement over EITHER single branch: every doc
    # ranked by both beats every single-branch doc whose one rank is no
    # better
    for b in both:
        for s in only_lex:
            if s.rank_lex >= min(b.rank_lex, b.rank_vec):
                assert b.rrf_score > s.rrf_score
        for s in only_vec:
            if s.rank_vec >= min(b.rank_lex, b.rank_vec):
                assert b.rrf_score > s.rrf_score
    # the list is sorted by fused score then doc_id
    scores = [(r.rrf_score, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert both, "no doc ranked by both branches — fusion vacuous"
    # both single-branch populations exist in the full fused set (before
    # the top-20 cut the branches disagree on 500-doc corpora; assert on
    # the survivors only when present, but lex-only must appear — BM25
    # ranks docs the vector query is far from)
    assert only_lex or only_vec, "top-20 is all-agreement — fusion untested"


def test_maxp_best_chunk_contains_query_term(spark, sf_smoke):
    """MaxP must return a passage that actually matches: every returned
    doc's winning chunk contains at least one query term, and the list is
    score-sorted."""
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.text import _BM25_TERMS

    rows = QUERIES["retrieval_chunk_maxp"](spark, sf_smoke).collect()
    assert len(rows) == 20
    chunks = {
        (r.doc_id, r.chunk_idx): r.chunk
        for r in QUERIES["text_chunking"](spark, sf_smoke).collect()
    }
    for r in rows:
        assert r.score > 0
        passage = chunks[(r.doc_id, r.best_chunk_idx)]
        assert any(t in passage.split() for t in _BM25_TERMS), (r, passage)
    scores = [(r.score, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_chunking_skips_empty_documents(spark, tmp_path):
    """An empty/whitespace document must produce ZERO chunks: Spark's
    sequence(0, -1) DESCENDS, so without the clamp a phantom
    chunk_idx=-1 would pass the length filter and diverge from the
    DuckDB oracle's generate_series."""
    from vat_etl_spark.queries import QUERIES

    df = spark.createDataFrame(
        [(0, "", "en", "src0", 0), (1, "short doc", "en", "src0", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    rows = QUERIES["text_chunking"](spark, d).collect()
    assert {r.doc_id for r in rows} == {1}
    assert all(r.chunk_idx >= 0 for r in rows)


def test_prf_rm3_expansion_changes_ranking(spark, sf_smoke):
    """RM3 must actually expand: the re-ranked list differs from plain
    BM25 (expansion terms carry weight), every score is positive, and
    the result is deterministic across runs."""
    from vat_etl_spark.queries import QUERIES

    rm3 = [(r.doc_id, r.score) for r in QUERIES["retrieval_prf_rm3"](spark, sf_smoke).collect()]
    assert len(rm3) == 20
    assert all(s > 0 for _, s in rm3)
    release_engine_caches(spark)  # the second build recomputes
    again = [(r.doc_id, r.score) for r in QUERIES["retrieval_prf_rm3"](spark, sf_smoke).collect()]
    assert rm3 == again
    bm25 = [r.doc_id for r in QUERIES["text_bm25_ranking"](spark, sf_smoke).collect()][:20]
    assert [d for d, _ in rm3] != bm25, "expansion had zero effect — vacuous"


def test_ivfpq_recall_beats_standalone_pq(spark, sf_smoke):
    """The composed IVF→ADC→exact-rerank stack must (a) actually cut the
    candidate set to ~N·nprobe/K (the IVF point) and (b) hold mean
    recall@10 at/above the standalone-PQ floor — the exact re-rank repairs
    ADC misrankings inside the candidate set (measured 0.60-0.64 at
    sf0.01/0.001 vs 0.32 for raw ADC; floor 0.3 leaves drift margin)."""
    from vat_etl_spark.queries import QUERIES

    rows = QUERIES["ann_ivfpq_search"](spark, sf_smoke).collect()
    assert len(rows) == 5
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert mean >= 0.3, [tuple(r) for r in rows]
    n_corpus = rows[0].n_corpus
    # 3 of 8 cells probed for 5 queries: the cut must be real (≥2× per query)
    assert rows[0].n_candidates_total <= 0.5 * n_corpus * 5


def test_nndescent_converges_from_noise(spark, sf_smoke):
    """NN-Descent must actually descend: the initial hash-scatter graph
    scores ~noise recall vs exact top-10, and three rounds of
    neighbor-of-neighbor refinement must lift the audited mean to >= 0.5
    (measured 0.82 at sf0.01) — an improvement of at least 0.3 so the
    test fails if either the init is accidentally good (vacuous) or the
    descent stops working."""
    rows = QUERIES["ann_nndescent"](spark, sf_smoke).collect()
    assert len(rows) >= 10
    assert all(0.0 <= r.recall_init <= 1.0 and 0.0 <= r.recall_final <= 1.0
               for r in rows)
    ri = sum(r.recall_init for r in rows) / len(rows)
    rf = sum(r.recall_final for r in rows) / len(rows)
    assert rf >= 0.5, (ri, rf)
    assert rf - ri >= 0.3, (ri, rf)


def test_graph_search_beats_floor_with_bounded_touch(spark, sf_smoke):
    """Beam search over the descent graph must hold mean recall@10 >= 0.8
    (HNSW-grade serving; measured 0.98 at sf0.01 and 0.94 at sf0.1 after
    the round-10 reverse-augmented serve graph + 64/24/10 serve budget)
    while the work stays ABSOLUTE: n_scored is bounded by
    seeds + hops*beam*out_degree regardless of N, so the touched FRACTION
    only shrinks at larger N (measured 0.43 at N=2000, SCALE.md row;
    at the 500-vector smoke corpus the absolute budget saturates most of
    the corpus — that is the expected small-N regime, not a regression)."""
    from vat_etl_spark.queries.similarity import (
        _GS_BEAM,
        _GS_HOPS,
        _GS_SEEDS,
        _SERVE_DEG,
        _SERVE_RND,
    )

    rows = QUERIES["ann_graph_search"](spark, sf_smoke).collect()
    assert len(rows) == 5
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert mean >= 0.8, [tuple(r) for r in rows]
    bound = _GS_SEEDS + _GS_HOPS * _GS_BEAM * (_SERVE_DEG + _SERVE_RND)
    for r in rows:
        assert r.n_scored < r.n_corpus, tuple(r)
        assert r.n_scored <= bound, (tuple(r), bound)


def test_serve_graph_has_capexempt_long_range_links(spark, sf_smoke, tmp_path, monkeypatch):
    """The serve graph must carry the hash-random long-range links
    (sim = -1, cap-exempt) on EVERY node: without them a clustered corpus
    makes the K-NN serve graph as many disconnected components as there
    are clusters and beam search bimodally fails (measured 1.0/0.0
    per-query at 20 K points / 200 clusters before the v5 index). The
    similarity degree cap must NOT evict them — random links always lose
    a sim ordering."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.similarity import (
        _SERVE_DEG,
        _SERVE_RND,
        build_graph_index,
    )

    monkeypatch.setenv("VAT_ETL_INDEX_DIR", str(tmp_path / "idx"))
    p = build_graph_index(spark, sf_smoke)
    serve = spark.read.parquet(f"{p}/edges_serve")
    n_nodes = serve.select("v").distinct().count()
    per_node = (
        serve.groupBy("v")
        .agg(
            F.count(F.when(F.col("sim") == -1.0, 1)).alias("n_rnd"),
            F.count("*").alias("deg"),
        )
        .agg(
            F.min("n_rnd").alias("min_rnd"),
            F.max("deg").alias("max_deg"),
            F.count("*").alias("n"),
        )
        .first()
    )
    assert per_node["n"] == n_nodes == 500
    # every node keeps at least one long-range link (a random target can
    # coincide with a near edge, whose sim then wins the max — so the
    # floor is 1, not _SERVE_RND) and the cap bounds the rest
    assert per_node["min_rnd"] >= 1, per_node
    assert per_node["max_deg"] <= _SERVE_DEG + _SERVE_RND, per_node


def test_long_range_links_and_seeds_on_sparse_ids(spark, tmp_path, monkeypatch):
    """Round-11 ADVICE regression: long-range links (and init edges /
    serve seeds) must land on ACTUAL node ids. The pre-v6 spelling
    targeted pmod(xxhash64(v), n_vec) directly as an id, which dangles on
    sparse/non-contiguous vec_ids — every dangling edge is silently
    dropped by the id join, so the global-connectivity guarantee the
    links exist for quietly degrades. v6 scatters over the persisted
    rank table, making real targets structural on ANY id space."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.similarity import build_graph_index

    rng = np.random.default_rng(11)
    # ids 0..4 exist (the serve query stratum) but the tail is sparse:
    # gaps of ~97 make >98% of pmod(hash, n_vec) draws miss real ids
    ids = list(range(5)) + [100 + 97 * i for i in range(295)]
    vecs = rng.standard_normal((len(ids), 16)).astype(np.float64)
    corpus = tmp_path / "sparse"
    corpus.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [list(v) for v in vecs], pa.list_(pa.float64())
                ),
                "label": pa.array(["x"] * len(ids)),
            }
        ),
        str(corpus / "embeddings.parquet"),
    )
    monkeypatch.setenv("VAT_ETL_INDEX_DIR", str(tmp_path / "idx"))
    p = build_graph_index(spark, str(corpus))
    serve = spark.read.parquet(f"{p}/edges_serve")
    id_set = spark.createDataFrame([(i,) for i in ids], "n long")
    # 1. no dangling targets: every serve edge endpoint is a real node
    assert serve.join(id_set, "n", "left_anti").count() == 0
    # 2. every node still carries >= 1 cap-exempt long-range link
    per_node = (
        serve.groupBy("v")
        .agg(F.count(F.when(F.col("sim") == -1.0, 1)).alias("n_rnd"))
        .agg(F.min("n_rnd").alias("min_rnd"), F.count("*").alias("n"))
        .first()
    )
    assert per_node["n"] == len(ids)
    assert per_node["min_rnd"] >= 1, per_node
    # 3. the audited serve path works end-to-end on the sparse id space
    rows = QUERIES["ann_graph_search"](spark, str(corpus)).collect()
    assert len(rows) == 5
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert mean >= 0.8, [tuple(r) for r in rows]


def test_serve_presets_bound_touched_work(spark, sf_smoke):
    """SERVE_PRESETS parameterize the beam budget (round-11 ask): the
    clustered/production preset must do strictly less work than the
    near-iid audit preset while returning the same shape; its recall on
    CLUSTERED data is measured by tools/ann_decade.py (SCALE.md)."""
    from vat_etl_spark.queries.similarity import ann_graph_serve

    audit = ann_graph_serve(spark, sf_smoke, preset="audit").collect()
    clus = ann_graph_serve(spark, sf_smoke, preset="clustered").collect()
    assert {r.qid for r in audit} == {r.qid for r in clus} == set(range(5))
    a_scored = {r.qid: r.n_scored for r in audit}
    c_scored = {r.qid: r.n_scored for r in clus}
    for q in a_scored:
        assert c_scored[q] < a_scored[q], (q, c_scored[q], a_scored[q])


def test_ann_index_build_serve_lifecycle(spark, sf_smoke, tmp_path, monkeypatch):
    """The persisted-index contract: first serve call builds, subsequent
    calls reuse the artifact untouched (mtime-stable), and a corpus-size
    OR corpus-content change trips the freshness guard into a rebuild.
    Serve results over the prebuilt graph are identical across calls (the
    build is deterministic)."""
    import os

    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.similarity import (
        _meta_n_vec,
        _meta_sig,
        build_graph_index,
        build_ivfpq_index,
    )

    monkeypatch.setenv("VAT_ETL_INDEX_DIR", str(tmp_path / "idx"))
    p = build_graph_index(spark, sf_smoke)
    edges = f"{p}/edges"
    assert os.path.isdir(edges) and _meta_n_vec(spark, p) == 500
    mtime = max(
        os.path.getmtime(os.path.join(edges, f)) for f in os.listdir(edges)
    )
    # serve twice over the SAME prebuilt index: no rebuild, identical rows
    r1 = QUERIES["ann_graph_search"](spark, sf_smoke).collect()
    r2 = QUERIES["ann_graph_search"](spark, sf_smoke).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    assert (
        max(os.path.getmtime(os.path.join(edges, f)) for f in os.listdir(edges))
        == mtime
    ), "serve call rewrote a fresh index"
    # staleness: lie about the indexed corpus size -> next build rebuilds
    from vat_etl_spark.queries.similarity import _IDX_VERSION

    good_sig = _meta_sig(spark, p)
    spark.createDataFrame(
        [(7, good_sig[1], 1, 1, _IDX_VERSION)],
        "n_vec long, fp long, k int, rounds int, version int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{p}/meta")
    assert _meta_n_vec(spark, p) == 7
    # a meta WITHOUT the current layout version is stale regardless of
    # row count (format migrations force a rebuild)
    spark.createDataFrame([(500, 1, 1)], "n_vec long, k int, rounds int").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{p}/meta")
    assert _meta_n_vec(spark, p) is None
    build_graph_index(spark, sf_smoke)
    assert _meta_sig(spark, p) == good_sig, "stale index was not rebuilt"
    # SAME count, different CONTENT fingerprint -> stale (the
    # incremental-rebuild hazard: content drift with unchanged N must
    # never validate; the count-only guard this replaced would have)
    spark.createDataFrame(
        [(500, good_sig[1] ^ 1, 1, 1, _IDX_VERSION)],
        "n_vec long, fp long, k int, rounds int, version int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{p}/meta")
    build_graph_index(spark, sf_smoke)
    assert _meta_sig(spark, p) == good_sig, "content-drift index not rebuilt"
    # ivfpq index: same lifecycle, artifacts present and cell-partitioned
    q = build_ivfpq_index(spark, sf_smoke)
    assert _meta_n_vec(spark, q) == 500
    cells = [d for d in os.listdir(f"{q}/assign") if d.startswith("centroid_id=")]
    assert len(cells) == 8, cells
    again = build_ivfpq_index(spark, sf_smoke)
    assert again == q


def test_ann_index_rebuilds_on_content_drift_same_count(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Mutate ONE vector without changing the corpus row count and assert
    the freshness guard forces a rebuild. Two corpus dirs with the SAME
    basename map to the same index path (_index_root keys on basename) —
    exactly the nightly-relocated-corpus layout — so this drives the real
    stale-serve hazard: same path, same N, different content."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from vat_etl_spark.queries.similarity import (
        _meta_sig,
        build_graph_index,
        build_ivfpq_index,
    )

    monkeypatch.setenv("VAT_ETL_INDEX_DIR", str(tmp_path / "idx"))
    em = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    d1 = str(tmp_path / "epoch1" / "corpus")
    d2 = str(tmp_path / "epoch2" / "corpus")
    for d in (d1, d2):
        os.makedirs(d)
        shutil.copy(f"{sf_smoke}/documents.parquet", f"{d}/documents.parquet")
    em.write.parquet(f"{d1}/embeddings.parquet")
    mutated = em.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0,
            F.transform(F.col("embedding"), lambda x: x + F.lit(1.0)),
        ).otherwise(F.col("embedding")),
    )
    mutated.write.parquet(f"{d2}/embeddings.parquet")
    assert em.count() == mutated.count()

    p1 = build_graph_index(spark, d1)
    sig1 = _meta_sig(spark, p1)
    p2 = build_graph_index(spark, d2)
    assert p1 == p2, "same basename must map to the same index path"
    sig2 = _meta_sig(spark, p2)
    assert sig1 != sig2, "one-vector drift must change the fingerprint"
    assert sig1[0] == sig2[0], "count is unchanged by design"
    q1 = build_ivfpq_index(spark, d1)
    s1 = _meta_sig(spark, q1)
    build_ivfpq_index(spark, d2)
    assert _meta_sig(spark, q1) != s1


def test_hub_entry_clustered_preset_recall_and_plan(
    spark, tmp_path, monkeypatch
):
    """Verdict-r11 task 2 pin: the production clustered-regime serve path
    (SERVE_PRESETS['clustered'], hub-layer entry) previously had no
    in-repo regression coverage — only tools/ann_decade.py exercised
    entry='hubs', so a serve refactor could silently break the measured
    recall-0.98-at-200K claim. This pins, on a seeded clustered fixture
    (the regime the preset is sized for): (a) hub-entry recall@10 >= 0.95
    under the exact-truth audit, and (b) the hub-sample plan shape — a
    pure hash filter over the embedding scan plus a broadcast join of the
    query vectors, with NO index artifact read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.similarity import (
        SERVE_PRESETS,
        _dbl,
        _hub_entry_frame,
        build_graph_index,
        graph_search_audit,
    )

    rng = np.random.default_rng(1203)
    n, n_clusters, dim = 3000, 30, 32
    centers = rng.standard_normal((n_clusters, dim))
    assign = rng.integers(0, n_clusters, n)
    vecs = (centers[assign] + 0.35 * rng.standard_normal((n, dim))).astype(
        np.float32
    )
    corpus = tmp_path / "clustered"
    corpus.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [list(v) for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        str(corpus / "embeddings.parquet"),
    )
    monkeypatch.setenv("VAT_ETL_INDEX_DIR", str(tmp_path / "idx"))
    build_graph_index(spark, str(corpus))
    rows = graph_search_audit(spark, str(corpus), preset="clustered").collect()
    assert rows, "audit returned no queries"
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert mean >= 0.95, [r.recall_at_10 for r in rows]
    # (b) plan shape of the hub entry, pre-checkpoint: hash-filter +
    # broadcast join, and no scan of the index directory
    em = spark.read.parquet(str(corpus / "embeddings.parquet")).select(
        "vec_id", _dbl(F.col("embedding")).alias("ev")
    )
    dst = em.select(F.col("vec_id").alias("node"), F.col("ev").alias("dv"))
    qs = em.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    frame = _hub_entry_frame(
        dst, qs, SERVE_PRESETS["clustered"]["hub_rate"]
    )
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "xxhash64" in plan, plan
    assert "Broadcast" in plan, plan
    # no index artifact feeds the hub layer: assert on the actual index
    # directory path, not a bare "idx" substring (round-13 ADVICE — a tmp
    # path component or codegen variable containing 'idx' must not fail
    # this, and the check must track the env var, not a hardcoded name)
    index_dir = str(tmp_path / "idx")
    assert index_dir not in plan, plan
