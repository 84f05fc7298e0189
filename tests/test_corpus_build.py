"""End-to-end tests of the composed corpus build (build_corpus): full
funnel counters, content-key split leakage guarantees, persisted
artifacts, flag-gated stages, and incremental (nightly-delta) mode.
Split out of test_llm_pipeline.py so the parallel runner
(tools/partest.py) can schedule the two halves on different workers."""

from __future__ import annotations

from pyspark.sql import functions as F

from vat_etl_spark.queries import QUERIES

def test_build_corpus_end_to_end(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.llm_pipeline import build_corpus

    out = str(tmp_path / "corpus")
    stats = build_corpus(spark, sf_smoke, out, n_shards=4)
    shards = spark.read.parquet(f"{out}/shards")
    assert stats["docs_written"] > 0
    # funnel counters: each filter stage's count equals the independently
    # computed intersection of the registered (oracle-pinned) keep sets
    f = stats["funnel"]
    assert f["raw"] == spark.read.parquet(f"{sf_smoke}/documents.parquet").count()
    g = QUERIES["pipeline_quality_gopher"](spark, sf_smoke).filter("passes")
    kept = g.select("doc_id")
    assert f["gopher"] == kept.count()
    c = QUERIES["pipeline_quality_classifier"](spark, sf_smoke).filter(
        "label = 'keep'"
    )
    kept = kept.join(c.select("doc_id"), "doc_id")
    assert f["classifier"] == kept.count()
    p = QUERIES["pipeline_perplexity_buckets"](spark, sf_smoke).filter("kept")
    kept = kept.join(p.select("doc_id"), "doc_id")
    assert f["perplexity"] == kept.count()
    s = QUERIES["pipeline_cross_source_dedup"](spark, sf_smoke)
    kept = kept.join(s.select("doc_id"), "doc_id")
    assert f["exact_dedup"] == kept.count()
    # rewrite + near-dup stages only ever shrink the funnel
    assert (
        f["exact_dedup"] >= f["line_dedup"] >= f["span_removal"] >= f["neardup"]
    )
    assert stats["docs_written"] == f["neardup"]
    # the persisted funnel artifact mirrors the returned counters, in order
    persisted = {
        r.stage: r.docs
        for r in spark.read.parquet(f"{out}/funnel").collect()
    }
    assert persisted == f
    # per-stage materialization walls: one entry per funnel stage plus the
    # post-funnel writes, all non-negative — the attribution contract that
    # keeps a regression on bench's most expensive entry diagnosable
    walls = stats["stage_walls"]
    assert set(f) <= set(walls)
    for extra in ("sig_index_write", "shard_write", "dataset_card"):
        assert extra in walls
    assert all(w >= 0 for w in walls.values())
    # layout: split/shard are partition columns, values from the contract
    assert set(r.split for r in shards.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    assert shards.filter(F.col("shard") >= 4).count() == 0
    # split assignment is the CONTENT-KEY function (leakage-safe), pinned
    # against the registered pipeline_leakage_safe_split expression
    b = (
        F.conv(
            F.substring(F.md5(F.col("content_key").cast("binary")), 1, 4), 16, 10
        ).cast("long") % 100
    )
    bad = shards.withColumn("b", b).filter(
        ((F.col("b") < 90) & (F.col("split") != "train"))
        | ((F.col("b") >= 90) & (F.col("b") < 95) & (F.col("split") != "val"))
        | ((F.col("b") >= 95) & (F.col("split") != "test"))
    )
    assert bad.count() == 0
    card = spark.read.parquet(f"{out}/dataset_card")
    assert card.count() == 5  # one row per language
    by_split = spark.read.parquet(f"{out}/dataset_card_by_split")
    assert by_split.agg(F.sum("n_docs")).collect()[0][0] == stats["docs_written"]
    # observed metrics (collected on the write pass) must agree with the
    # written data and be persisted for the release record
    metrics = spark.read.parquet(f"{out}/build_metrics").collect()[0]
    assert metrics.docs_written == stats["docs_written"]
    split_counts = {
        r.split: r["count"] for r in shards.groupBy("split").count().collect()
    }
    assert metrics.train_docs == split_counts.get("train", 0)
    assert metrics.val_docs == split_counts.get("val", 0)
    assert metrics.test_docs == split_counts.get("test", 0)
    # --- leakage guarantees over the written corpus -----------------------
    # 1. content-key disjointness: no content key appears in two splits
    straddle = (
        shards.groupBy("content_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter("ns > 1")
    )
    assert straddle.count() == 0
    # 2. no near-dup pair straddles train/eval: the SimHash admission gate
    # already removed every pair within the admit threshold, so the banded
    # candidate join over the WRITTEN text must find zero surviving pairs
    # at all — across splits or within one
    from vat_etl_spark.queries.dedup import (
        _NEARDUP_T,
        _sim_bands,
        simhash_expr,
    )

    sigs = shards.select(
        "doc_id", "split", simhash_expr(F.col("text")).alias("sig")
    )
    bands = sigs.select(
        "doc_id", "split", "sig", _sim_bands(F.col("sig"))
    ).select("doc_id", "split", "sig", "b.band_no", "b.band_key")
    other = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.col("sig").alias("sig_b"),
        "band_no",
        "band_key",
    )
    pairs = (
        bands.join(other, ["band_no", "band_key"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.col("sig_b"))) <= _NEARDUP_T
        )
    )
    assert pairs.count() == 0
    # the guarantee is non-vacuous: the raw corpus DOES contain near-dup
    # pairs that the gate had to remove (funnel shows neardup < exact-stage
    # input after the rewrites)
    assert f["neardup"] < f["span_removal"]
    # the build persists its admitted-signature index — the exact
    # `existing_sigs` input of the streaming gate / next incremental
    # build: re-sending the written corpus against it admits NOTHING
    from vat_etl_spark.queries.dedup import neardup_admit_plan, simhash_frame

    idx = spark.read.parquet(f"{out}/neardup_sig_index")
    written_sigs = simhash_frame(shards).select("simhash").distinct()
    assert idx.count() == written_sigs.count()
    assert idx.join(written_sigs, "simhash", "left_anti").count() == 0
    resent = shards.select("doc_id", "text")
    assert neardup_admit_plan(resent, idx).count() == 0

def test_build_corpus_stage_flags(spark, sf_smoke, tmp_path):
    """Flag-gating: a lighter build (gopher + exact dedup only) skips the
    other stages, records only its own funnel rows, and reproduces the
    round-4-era funnel counts."""
    from vat_etl_spark.queries.llm_pipeline import build_corpus

    out = str(tmp_path / "corpus_light")
    stats = build_corpus(
        spark, sf_smoke, out, n_shards=4, stages=("gopher", "exact_dedup")
    )
    assert list(stats["funnel"]) == ["raw", "gopher", "exact_dedup"]
    q = QUERIES["pipeline_quality_gopher"](spark, sf_smoke).filter("passes")
    s = QUERIES["pipeline_cross_source_dedup"](spark, sf_smoke)
    expected = q.select("doc_id").join(s.select("doc_id"), "doc_id").count()
    assert stats["docs_written"] == expected > 0

def test_build_corpus_chains_from_base_without_neardup(spark, sf_smoke, tmp_path):
    """A base built with a --stages subset excluding 'neardup' never wrote
    a neardup_sig_index — an incremental build from such a base must still
    chain (no AnalysisException on the missing artifact), both when the
    delta also excludes neardup and when it includes it (gating against
    an absent base index = no base signatures to reject against)."""
    from vat_etl_spark.queries.llm_pipeline import build_corpus

    base_out = str(tmp_path / "base_nonear")
    stats0 = build_corpus(
        spark, sf_smoke, base_out, n_shards=4, stages=("gopher", "exact_dedup")
    )
    assert stats0["docs_written"] > 0
    import os

    assert not os.path.isdir(f"{base_out}/neardup_sig_index")

    # delta excluding neardup: resend of the same feed -> empty delta
    d1 = str(tmp_path / "delta_nonear")
    stats1 = build_corpus(spark, sf_smoke, d1, n_shards=4,
                          stages=("gopher", "exact_dedup"), base_dir=base_out)
    assert stats1["docs_written"] == 0

    # delta INCLUDING neardup chains too, and writes a fresh index
    d2 = str(tmp_path / "delta_near")
    stats2 = build_corpus(
        spark, sf_smoke, d2, n_shards=4,
        stages=("gopher", "exact_dedup", "neardup"), base_dir=base_out,
    )
    assert stats2["docs_written"] == 0  # same feed, all base-deduped
    assert os.path.isdir(f"{d2}/neardup_sig_index")


def test_build_corpus_incremental_delta(spark, sf_smoke, tmp_path):
    """Nightly-delta mode: a base build on half the feed, then an
    incremental build of the FULL feed against it. The delta must contain
    no content key already written by the base (cross-build exact dedup),
    no doc within the SimHash threshold of the base corpus (index-gated
    admission), and the written signature index must chain (base ∪ new).
    Re-sending the base feed itself produces an EMPTY delta.

    Uses a reduced stage set (the expensive LM/perplexity and span stages
    are pinned by the end-to-end test above; incremental semantics only
    need the dedup/gate stages) to keep the three builds test-budget-sized."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries.llm_pipeline import build_corpus

    stages = ("gopher", "classifier", "exact_dedup", "line_dedup", "neardup")
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    half_dir = str(tmp_path / "feed_half")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{half_dir}/documents.parquet"
    )
    base_out = str(tmp_path / "base")
    stats0 = build_corpus(spark, half_dir, base_out, n_shards=4, stages=stages)
    assert stats0["docs_written"] > 0

    # identical feed re-sent -> empty delta (base_dedup stage kills all)
    resend_out = str(tmp_path / "resend")
    stats1 = build_corpus(spark, half_dir, resend_out, n_shards=4,
                          stages=stages, base_dir=base_out)
    assert stats1["docs_written"] == 0
    assert stats1["funnel"]["base_dedup"] == 0

    # full feed against the base -> only genuinely new content lands
    delta_out = str(tmp_path / "delta")
    stats2 = build_corpus(spark, sf_smoke, delta_out, n_shards=4,
                          stages=stages, base_dir=base_out)
    assert stats2["docs_written"] > 0
    base_shards = spark.read.parquet(f"{base_out}/shards")
    delta_shards = spark.read.parquet(f"{delta_out}/shards")
    overlap = delta_shards.select("content_key").join(
        base_shards.select("content_key").distinct(), "content_key"
    )
    assert overlap.count() == 0
    # signature index chains: delta index contains every base signature
    base_idx = spark.read.parquet(f"{base_out}/neardup_sig_index")
    delta_idx = spark.read.parquet(f"{delta_out}/neardup_sig_index")
    assert base_idx.join(delta_idx, "simhash", "left_anti").count() == 0
    # split stability across epochs: same content key -> same split
    # function (pure md5 of the key), so the combined corpus cannot
    # straddle train/eval on any key
    combined = base_shards.select("content_key", "split").union(
        delta_shards.select("content_key", "split")
    )
    straddle = (
        combined.groupBy("content_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter("ns > 1")
    )
    assert straddle.count() == 0


def test_fixed_lm_roundtrip_matches_self_estimated(spark, sf_smoke, tmp_path):
    """CCNet split pin (verdict-r11 task 1): estimating the KN LM +
    thresholds ONCE with kn_write_lm (reference = the full corpus) and
    scoring against the persisted tables must reproduce the
    self-estimated pipeline_perplexity_buckets kept set EXACTLY — the
    fixed-LM funnel path is a pure refactor of where the LM lives, not a
    semantic change, whenever the reference equals the input. (With a
    narrower reference the unseen-bigram backoff engages — that path is
    oracle-proven by pipeline_perplexity_fixed_lm.)"""
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.llm_pipeline import (
        kn_load_lm,
        kn_ppl_kept_fixed,
        kn_write_lm,
    )
    from vat_etl_spark.sources.catalog import read_table

    lm_dir = str(tmp_path / "knlm")
    stats = kn_write_lm(spark, sf_smoke, lm_dir)
    assert stats["bigram_types"] > 0
    docs = read_table(spark, sf_smoke, "documents")
    fixed = {
        r.doc_id
        for r in kn_ppl_kept_fixed(
            spark, docs, kn_load_lm(spark, lm_dir)
        ).collect()
    }
    self_kept = {
        r.doc_id
        for r in QUERIES["pipeline_perplexity_buckets"](spark, sf_smoke)
        .filter(F.col("kept"))
        .select("doc_id")
        .collect()
    }
    assert fixed == self_kept


def test_build_corpus_raises_when_a_background_write_fails(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A failed build_metrics/funnel metadata write must fail the build,
    not be logged under a successful return."""
    import pytest

    from vat_etl_spark.queries import llm_pipeline

    def broken(*a, **k):
        raise RuntimeError("metadata write failed")

    monkeypatch.setattr(llm_pipeline, "local_rows_df", broken)
    with pytest.raises(RuntimeError, match="metadata write failed"):
        llm_pipeline.build_corpus(
            spark, sf_smoke, str(tmp_path / "c"), n_shards=4, stages=("gopher",)
        )



def test_build_corpus_pool_jobs_carry_the_callers_job_group(
    spark, sf_smoke, tmp_path
):
    """Every job a build starts — its background pool's prefetches and
    overlapped writes included — runs in the caller's job group, so a
    per-group job count covers the whole build. Job ids are sequential:
    the jobs started between two probe jobs are exactly the build's."""
    import time

    from vat_etl_spark.queries.llm_pipeline import build_corpus

    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def job_ids(group):
        # the status store is fed asynchronously by the listener bus
        deadline = time.monotonic() + 30
        while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return set(ids)

    tag = f"jobgroup-{tmp_path.name}"
    in_group(f"{tag}-before", lambda: sc.parallelize([1], 1).count())
    in_group(tag, lambda: build_corpus(
        spark, sf_smoke, str(tmp_path / "c"), n_shards=2, stages=("gopher",)
    ))
    in_group(f"{tag}-after", lambda: sc.parallelize([1], 1).count())
    (first,), (last,) = job_ids(f"{tag}-before"), job_ids(f"{tag}-after")
    started = set(range(first + 1, last))
    assert started and job_ids(tag) == started

def test_join_background_surfaces_unconsumed_failures(caplog):
    """The build's final join re-raises a background failure nobody
    consumed when no primary exception is propagating, and only logs it
    when one is."""
    import logging
    from concurrent.futures import ThreadPoolExecutor

    import pytest

    from vat_etl_spark.queries.llm_pipeline import _join_background

    def fail():
        raise ValueError("background boom")

    with ThreadPoolExecutor(max_workers=1) as pool:
        futs = [pool.submit(fail)]
        with pytest.raises(ValueError, match="background boom"):
            _join_background(futs, surface=True)
        with caplog.at_level(logging.WARNING):
            _join_background(futs, surface=False)
    assert "background job failed during cleanup" in caplog.text
