"""Determinism coverage for the rows-only (Spark-specific-hash) operators:
same session, same inputs → identical result sets. Seeded hashing
(MinHashLSH/BRP-LSH seed=42, xxhash64) must not vary across runs or
partitionings."""

from __future__ import annotations

import pytest

from vat_etl_spark.operators import neardup
from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _built_twice(spark, name, sf_dir):
    """A query's rows from two builds, with engine caches released between
    them, so the second build recomputes instead of reading the first
    build's persisted frames."""
    a = _rows(QUERIES[name](spark, sf_dir))
    release_engine_caches(spark)
    return a, _rows(QUERIES[name](spark, sf_dir))


def test_minhash_ml_reference_deterministic(spark, sf_smoke):
    a, b = _built_twice(spark, "dedup_minhash_ml_reference", sf_smoke)
    assert a == b and len(a) > 0


def test_minhash_ml_reference_equals_banded(spark, sf_smoke):
    """The fenced ml.feature reference and the production banded path
    share one detection contract (exact shingle-Jaccard ≥ 0.6 over their
    respective candidate sets) — on the pinned corpus their outputs are
    identical, which is what lets both carry the same all-pairs oracle."""
    ml = _rows(QUERIES["dedup_minhash_ml_reference"](spark, sf_smoke))
    banded = _rows(QUERIES["dedup_minhash_banded"](spark, sf_smoke))
    assert ml == banded and len(ml) > 0


def test_minhash_banded_deterministic_and_complete_vs_exact(spark, sf_smoke):
    """The b×r banded MinHash (dedup_minhash_banded) is deterministic AND
    detection-complete on the smoke corpus: its exact-Jaccard-verified
    pairs equal the ALL-PAIRS shingle-Jaccard ≥ 0.6 ground truth (recall
    floor 0.9 is the contract — 1−(1−J^r)^b ≈ 0.97 at the threshold —
    but the pinned corpus measures 1.0; precision is exact by
    construction since candidates are re-verified)."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.dedup import (
        _docs_fanout,
        _verify_common_tokens,
    )

    a, b = _built_twice(spark, "dedup_minhash_banded", sf_smoke)
    assert a == b and len(a) > 0
    got = {(r[0], r[1]) for r in a}
    d = _docs_fanout(spark, sf_smoke)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(ws) - 3),"
            " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
        )
    )
    docsets = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", sh.alias("ts"))
    )
    ids = docsets.select("doc_id")
    allp = (
        ids.withColumnRenamed("doc_id", "doc_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    truth = {
        (r.doc_a, r.doc_b)
        for r in _verify_common_tokens(allp, docsets)
        .select("doc_a", "doc_b", jac.alias("j"))
        .where(F.col("j") >= 0.6)
        .collect()
    }
    assert truth, "smoke corpus must contain near-dup pairs"
    assert got <= truth, got - truth  # precision exact (verified candidates)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth), len(got))


def _minhash_cluster(spark, monkeypatch):
    """Round-12 ADVICE regression pin: a cluster of IDENTICAL docs larger
    than the bucket cap must keep every within-cluster pair. Identical
    docs share all band keys, so pre-fix every one of the cluster's
    buckets tripped the cap AT ONCE and the whole cluster silently lost
    all pairs (the per-band-independence recall bound does not apply to
    identical signatures). Post-fix the cluster collapses to one banded
    signature-grain representative (one slot per bucket — the cap cannot
    see it) and its pairs are emitted through the membership expansion."""
    import vat_etl_spark.queries.dedup as D

    monkeypatch.setattr(neardup, "BUCKET_CAP", 5)
    rows = [(i, ["alpha beta gamma", "beta gamma delta"]) for i in range(20)]
    rows += [
        (100 + i, [f"u{i}a x y", f"x y u{i}b", f"y u{i}b z"])
        for i in range(30)
    ]
    docsets = spark.createDataFrame(rows, "doc_id long, ts array<string>")
    cands = D._banded_minhash_candidates_ids(D._hashed_sets(docsets))
    got = {(r.doc_a, r.doc_b) for r in cands.collect()}
    cluster = {(a, b) for a in range(20) for b in range(a + 1, 20)}
    missing = cluster - got
    assert not missing, f"cap dropped {len(missing)} identical-cluster pairs"


def _phash_cluster(spark, monkeypatch):
    """Round-14 twin of the text path's round-12 pin: a cluster of
    IDENTICAL payloads larger than the band-bucket cap must keep every
    within-cluster pair. Identical payloads share all 8 band words, so a
    doc-grain cap would trip every one of the cluster's buckets AT ONCE
    and silently lose all its pairs; the signature-grain collapse makes
    the cluster occupy ONE bucket slot (invisible to the cap) and emits
    its pairs through the membership expansion at hamming 0."""
    import vat_etl_spark.queries.multimodal as M
    from vat_etl_spark.operators.multimodal import attach_payload

    monkeypatch.setattr(neardup, "BUCKET_CAP", 3)
    boiler = "the same boilerplate payload repeated verbatim " * 4
    rows = [(i, boiler) for i in range(10)]
    # distinct fillers, byte-structured so signatures differ
    rows += [(100 + i, f"unique filler {i} " + "x" * (40 + 7 * i)) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in M._phash_near_dup_pairs(attach_payload(docs)).collect()
    }
    cluster = {(a, b) for a in range(10) for b in range(a + 1, 10)}
    missing = cluster - set(got)
    assert not missing, f"cap dropped {len(missing)} identical-cluster pairs"
    for p in cluster:
        assert got[p] == 0, p


@pytest.mark.parametrize("case", [_minhash_cluster, _phash_cluster], ids=["minhash", "phash"])
def test_identical_cluster_survives_bucket_cap(spark, monkeypatch, case):
    case(spark, monkeypatch)


def _minhash_banded(spark, sf_smoke):
    """The round-11 hot-bucket skew guard must NEVER fire at oracle
    scale: the driver gate proves the banded query equal to the all-pairs
    exact truth at sf0.001/0.01, and that proof is only about the b×r
    amplification if no bucket was silently dropped. The cap exists for
    the 5 M-doc regime (measured 12 K-doc degenerate buckets, SCALE.md
    round-11); here every bucket must sit far under it."""
    from vat_etl_spark.queries.dedup import (
        _hashed_sets,
        _minhash_bands,
        _minhash_sig_frame,
        _shingle_docsets,
        _sig_slim,
    )

    # The PRODUCTION signature/grouping/banding helpers — not an inline
    # re-implementation — so a seed, key-layout, or R/B change reaches
    # this pin automatically (round-12 ADVICE).
    hashed = _hashed_sets(_shingle_docsets(spark, sf_smoke))
    slim = _sig_slim(_minhash_sig_frame(hashed))
    return _minhash_bands(slim, neardup.elect(slim, ["k1", "k2"])[0]), ["bk"]


def _phash_banded(spark, sf_smoke):
    """The pHash cap must NEVER fire at oracle scale: the driver gate
    proves the banded query equal to DuckDB's uncapped all-pairs twin at
    sf0.001/0.01, and that proof is only about the banding if no bucket
    was silently dropped. The cap exists for the 5 M-doc hot-bucket
    regime (MULTIMODAL_DECADE_r13: 103 M uncapped candidates); here every
    signature-grain bucket must sit far under it."""
    from vat_etl_spark.operators.multimodal import attach_payload, perceptual_hash
    from vat_etl_spark.queries.multimodal import _phash_band_explode
    from vat_etl_spark.sources.catalog import read_table

    docs = read_table(spark, sf_smoke, "documents")
    grp, _ = neardup.elect(perceptual_hash(attach_payload(docs)), ["bands"])
    # the PRODUCTION join-band explode (fused 64-bit keys at tau=3), so a
    # band-layout change reaches this pin automatically
    return _phash_band_explode(grp, tau=3), ["band_no", "band_key"]


@pytest.mark.parametrize("bands", [_minhash_banded, _phash_banded], ids=["minhash", "phash"])
def test_bucket_cap_dormant_at_oracle_scale(spark, sf_smoke, bands):
    from pyspark.sql import functions as F

    banded, bucket = bands(spark, sf_smoke)
    max_bucket = (
        banded.groupBy(*bucket).count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket <= neardup.BUCKET_CAP // 4, max_bucket


def test_simhash_deterministic_and_64bit(spark, sf_smoke):
    a, b = _built_twice(spark, "dedup_simhash", sf_smoke)
    assert a == b and len(a) > 0


def test_ann_lsh_deterministic(spark, sf_smoke):
    a, b = _built_twice(spark, "ann_lsh_bucketed", sf_smoke)
    assert a == b and len(a) > 0


def test_multimodal_features_deterministic(spark, sf_smoke):
    df = QUERIES["multimodal_features"](spark, sf_smoke)
    a = sorted((r.doc_id, r.n_bytes, r.entropy_proxy) for r in df.collect())
    release_engine_caches(spark)
    b = sorted((r.doc_id, r.n_bytes, r.entropy_proxy) for r in df.collect())
    assert a == b and len(a) > 0


def test_kmeans_lloyd_deterministic_and_total(spark, sf_smoke):
    """kmeans_lloyd: deterministic across runs (fixed init, deterministic
    argmax tie-break) and every vector lands in exactly one of K clusters."""
    from vat_etl_spark.sources.catalog import read_table

    a, b = _built_twice(spark, "kmeans_lloyd", sf_smoke)
    assert a == b
    n_vecs = read_table(spark, sf_smoke, "embeddings").count()
    assert sum(r[1] for r in a) == n_vecs
    assert len(a) <= 8


def test_prefix_filter_shrinks_candidates_losslessly(spark, sf_smoke):
    """The prefix filter must index strictly fewer posting rows than the
    naive inverted index; that its result equals the naive join is
    test_ngram_jaccard_equals_naive_full_postings_join (and the oracle
    re-proves it at sf0.01 every round)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.text import tokens_expr
    from vat_etl_spark.sources.catalog import read_table

    d = read_table(spark, sf_smoke, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_ = toks.groupBy("tok").agg(F.count("*").alias("df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok"))
    ranked = toks.join(df_, "tok").join(sizes, "doc_id").select("n", rk.alias("rk"))
    n_naive = ranked.count()
    n_prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(0.6) * F.col("n")) + 1
    ).count()
    assert n_prefix < 0.55 * n_naive  # ~40% of postings indexed at tau=0.6


def test_lsh_recall_against_exact_ground_truth(spark, sf_smoke):
    rows = QUERIES["dedup_lsh_recall_eval"](spark, sf_smoke).collect()
    assert {r.generator for r in rows} == {"banded", "ml_reference"}
    for row in rows:
        assert row.n_truth_pairs > 0  # a vacuous audit verifies nothing
        assert row.recall >= 0.9, (row.generator, row.n_hits, row.n_truth_pairs)


def test_phonetic_blocking_deterministic_and_blocked(spark, sf_smoke):
    df = QUERIES["dedup_phonetic_blocking"](spark, sf_smoke)
    a = sorted(map(tuple, df.collect()))
    release_engine_caches(spark)
    b = sorted(map(tuple, df.collect()))
    assert a == b
    seen_pairs = set()
    for r in a:
        assert r[1] < r[3]  # canonical order (key_a < key_b)
        assert (r[1], r[3]) not in seen_pairs  # each pair emitted once
        seen_pairs.add((r[1], r[3]))


def test_phonetic_blocking_recall_against_exact_ground_truth(spark, sf_smoke):
    """Pin the positioned-word blocking key's recall so a future key
    change cannot silently lose true pairs (the first-two-words key
    scored 0.22 here before this audit existed)."""
    row = QUERIES["dedup_phonetic_recall_eval"](spark, sf_smoke).collect()[0]
    assert row.n_truth_pairs > 0  # a vacuous audit verifies nothing
    assert row.recall >= 0.95, (row.n_hits, row.n_truth_pairs)


def test_ngram_jaccard_equals_naive_full_postings_join(spark, sf_smoke):
    """dedup_ngram_jaccard indexes only each doc's rarest-first prefix
    (PPJoin), so its result must equal the naive inverted-index join over
    every token's full postings list."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.text import tokens_expr
    from vat_etl_spark.sources.catalog import read_table

    keys = ["doc_a", "doc_b", "common", "n_a", "n_b"]
    got = sorted(
        tuple(r[k] for k in keys)
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_smoke).collect()
    )
    # naive reference: full postings self-join, no cap (the r02 plan)
    d = read_table(spark, sf_smoke, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    naive = sorted(
        tuple(r[k] for k in keys)
        for r in pairs.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= 0.6)
        .select(*keys)
        .collect()
    )
    assert got == naive and len(got) > 0


def test_ivf_recall_against_exact_ground_truth(spark, sf_smoke):
    row = QUERIES["ann_ivf_recall_eval"](spark, sf_smoke).collect()[0]
    assert row.n_truth > 0
    # nprobe=3 of 8 buckets measures 0.92-0.96 on the test corpora; the
    # pin is the safety floor for swapping IVF in for brute force
    assert row.recall_at_5 >= 0.8, (row.n_hits, row.n_truth)
    # probing must actually shrink the pool vs scoring everything
    # (5 queries x 500 vectors = 2500 exhaustive; nprobe=3/8 ≈ 37%)
    assert row.n_candidates < 0.6 * 5 * 500


def test_phonetic_blocking_catches_shifted_word_pairs(spark):
    """A deleted 1-letter word shifts every surviving word's position:
    'a red gear' vs 'red gear' is edit distance 2 but shares NO
    same-position soundex block — the ±1 fan must catch it (and plain
    drift + identical names still work)."""
    from vat_etl_spark.queries.dedup import phonetic_block_pairs

    c = spark.createDataFrame(
        [
            (1, "a red gear"),
            (2, "red gear"),      # 1-word deletion, dist 2 — shifted
            (3, "red gearz"),     # in-place drift, dist 1
            (4, "red gear"),      # exact duplicate of 2
            (5, "blue widget"),   # unrelated
        ],
        "key long, name string",
    )
    pairs = {
        (r.key_a, r.key_b): r.edit_dist
        for r in phonetic_block_pairs(c).collect()
    }
    assert pairs.get((1, 2)) == 2, pairs   # the shifted-position case
    assert pairs.get((2, 3)) == 1, pairs
    assert pairs.get((2, 4)) == 0, pairs
    assert not any(5 in k for k in pairs), pairs


def test_docs_fanout_noops_on_parallel_scan(spark, sf_smoke, tmp_path):
    """_docs_fanout exists because a single-file parquet scan yields ONE
    input partition; on a corpus whose scan already has real row-group
    parallelism (the real-cluster case) it must be a NO-OP — the corpus
    is never shuffled just to re-split it. Built with the realistic-
    vocabulary generator (tools/gen_fuzzy_corpus.py) at 32 files."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from tools.gen_fuzzy_corpus import generate

    from vat_etl_spark.plans import formatted_plan
    from vat_etl_spark.queries.dedup import _docs_fanout
    from vat_etl_spark.sources.catalog import read_table

    d = str(tmp_path / "many")
    generate(d, 2000, seed=11, n_files=32)
    raw = read_table(spark, d, "documents")
    fanned = _docs_fanout(spark, d)
    assert fanned.rdd.getNumPartitions() == raw.rdd.getNumPartitions()
    assert "Exchange" not in formatted_plan(fanned)

    # and the adaptive opposite: a single-file scan MUST be re-split
    single = str(tmp_path / "one")
    generate(single, 2000, seed=11, n_files=1)
    fanned1 = _docs_fanout(spark, single)
    assert fanned1.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("parallelism", [1, 2, 3, 4, 32])
def test_docs_fanout_rule(parallelism):
    """A single-split scan is re-split on every multi-core session (2 and 3
    cores included); a scan with at least half the cores' worth of splits
    (and at least 2) is left alone; one core never re-splits."""
    from vat_etl_spark.queries.dedup import _fanout_needed

    assert _fanout_needed(1, parallelism) == (parallelism > 1)
    enough = max(parallelism // 2, 2)
    assert not _fanout_needed(enough, parallelism)
    assert _fanout_needed(enough - 1, parallelism) == (parallelism > 1)


def test_soundex_sql_twin_matches_spark_soundex(spark):
    """The portable-SQL soundex the phonetic oracle inlines must equal
    F.soundex EXACTLY — fuzzed over random words plus the classic
    H/W-rule pathologies (ashcraft: s,c straddle an h and collapse;
    wwwa: leading W keeps its letter but codes nothing) and
    non-letter-leading strings (Spark returns them unchanged)."""
    import random
    import string

    import duckdb
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.dedup import _soundex_sql

    rng = random.Random(0xC0DE)
    words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 12)))
             for _ in range(800)]
    words += ["smith", "smyth", "pfister", "tymczak", "ashcraft", "honeyman",
              "wwwa", "hhh", "aeiou", "y", "h", "w", "bob", "robert",
              "rupert", "burroughs", "burrows", "0abc", "9", "zzz"]
    words = sorted(set(words))
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got_spark = {r.w: r.s for r in df.select("w", F.soundex("w").alias("s")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(w VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(w,) for w in words])
    got_duck = dict(con.execute(f"SELECT w, {_soundex_sql('w')} FROM t").fetchall())
    assert got_spark == got_duck


def test_neardup_planted_audit_exercises_both_reject_paths(spark, sf_smoke):
    """The planted admission audit is only a real audit if the corpus makes
    the gate take BOTH rejection paths: variants of docs the gate ADMITTED
    (rejected against the index at Hamming 0) and variants of docs the gate
    itself REJECTED (rejected in-batch by an earlier variant). Also pins
    the oracle's structural expectation directly: all variants rejected,
    all novels admitted."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.dedup import neardup_admit_plan

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    admitted_orig = {r.doc_id for r in neardup_admit_plan(docs).collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    rejected_orig = all_ids - admitted_orig
    assert admitted_orig and rejected_orig, "gate must split the corpus"

    rows = QUERIES["corpus_neardup_admit_planted"](spark, sf_smoke).collect()
    variants = [r for r in rows if r.kind == "variant"]
    novels = [r for r in rows if r.kind == "novel"]
    assert len(variants) == len(all_ids)
    assert novels, "no novel docs planted — admit path vacuous"
    assert all(not r.admitted for r in variants)
    assert all(r.admitted for r in novels)
    # both paths non-vacuous: some variants descend from admitted originals
    # (index rejection) and some from rejected originals (in-batch rejection)
    v_orig = {r.orig_doc_id for r in variants}
    assert v_orig & admitted_orig and v_orig & rejected_orig


def test_neardup_gate_survives_pathological_identical_batch(spark):
    """Adversarial skew: a micro-batch of 10,000 near-identical boilerplate
    docs all lands in ONE band bucket. The distinct-signature reduction
    must (a) still produce the exact greedy answer — first doc admitted,
    rest rejected — and (b) generate ZERO in-batch banded candidate pairs
    (the naive all-arrivals self-join would build ~10k² ≈ 10⁸), so the
    gate completes in seconds, not hours."""
    import time

    from pyspark.sql import functions as F

    from vat_etl_spark.queries.dedup import (
        _sim_bands,
        neardup_admit_plan,
        simhash_expr,
    )

    n = 10_000
    batch = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # identical token multiset per doc -> identical SimHash
        F.lit("the same boilerplate legal disclaimer text repeated").alias(
            "text"
        ),
    )
    t0 = time.time()
    admitted = neardup_admit_plan(batch).select("doc_id").collect()
    wall = time.time() - t0
    assert [r.doc_id for r in admitted] == [0]
    assert wall < 60, f"gate took {wall:.1f}s on a skewed batch"
    # the banded self-join the plan actually runs is over DISTINCT
    # signatures: for this batch that is ONE representative -> zero pairs
    sigd = batch.withColumn("simhash", simhash_expr(F.col("text")))
    reps = sigd.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    rep_bands = reps.select(
        "doc_id", "simhash", _sim_bands(F.col("simhash"))
    ).select("doc_id", "simhash", "b.band_no", "b.band_key")
    other = rep_bands.select(
        F.col("doc_id").alias("doc_a"), "band_no", "band_key"
    )
    n_cand = (
        rep_bands.join(other, ["band_no", "band_key"])
        .where(F.col("doc_a") < F.col("doc_id"))
        .count()
    )
    assert n_cand == 0


def test_simhash_frame_matches_expression_bit_for_bit(spark, sf_smoke):
    """The Arrow vote kernel (simhash_frame) is the gate's execution path;
    simhash_expr is the semantic definition. They must agree bit-for-bit
    on the corpus AND on edge shapes (empty, whitespace-only, one-token,
    all-identical-token, long docs)."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.dedup import simhash_expr, simhash_frame

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    edge = spark.createDataFrame(
        [
            (100000, None),
            (100001, ""),
            (100002, "   "),
            (100003, "one"),
            (100004, "same same same same"),
            (100005, " ".join(f"w{i}" for i in range(500))),
            (100006, "Ünïcode tökens ß ß ß"),
        ],
        "doc_id long, text string",
    )
    both = d.select("doc_id", "text").unionByName(edge)
    a = {r.doc_id: r.simhash for r in simhash_frame(both).collect()}
    b = {
        r.doc_id: r.s
        for r in both.select(
            "doc_id", simhash_expr(F.col("text")).alias("s")
        ).collect()
    }
    assert a == b
    assert len(a) == d.count() + 7
