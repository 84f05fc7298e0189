"""Partition invariance: exact-decimal aggregation paths must produce
bit-identical results regardless of shuffle partitioning — the property
that makes results reproducible when a cluster resizes. Float sums do NOT
have this property; dsum/hsum do by construction (exact integer/decimal
accumulation)."""

from __future__ import annotations

from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches


def _rows(spark, sf, name, plans=None):
    df = QUERIES[name](spark, sf)
    rows = sorted(map(tuple, df.collect()))
    if plans is not None:
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    return rows


def test_money_aggregates_invariant_to_shuffle_partitions(spark, sf_smoke):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            # a run boundary: no run reads what the last one persisted
            release_engine_caches(spark)
            plans = {}
            results[n] = {
                q: _rows(spark, sf_smoke, q, plans)
                for q in ("vat_summary", "q1_pricing_summary", "topk_customers")
            }
            # every run aggregates at its own partition count, none reads
            # a cached result
            for q, plan in plans.items():
                assert "HashAggregate" in plan and "InMemoryTableScan" not in plan, (q, plan)
        assert results["3"] == results["17"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_pipeline_ops_invariant_to_shuffle_partitions(spark, sf_smoke):
    """The training-data pipeline tier is integer/deterministic by design —
    rarity points, packing offsets, split assignment, and the dataset-card
    funnel must be bit-identical across partition counts (a corpus rebuild
    on a resized cluster must not move a single document)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            release_engine_caches(spark)
            results[n] = {
                q: _rows(spark, sf_smoke, q)
                for q in (
                    "text_rarity_score",
                    "pipeline_seq_packing",
                    "pipeline_seq_packing_nosplit",
                    "pipeline_train_val_split",
                    "pipeline_dataset_card",
                    "pipeline_cross_source_dedup",
                    "sample_fixed_per_group",
                    "corpus_ingest_admit_twin",
                    "pipeline_temperature_mix",
                    "pipeline_global_shuffle",
                    "pipeline_epoch_upsample",
                    "text_bigram_fluency",
                    "dedup_semantic_clustered",
                    # ADC distances sum via a subspace-SORTED in-row fold,
                    # so PQ ranking is partition-invariant despite doubles
                    "ann_pq_recall_eval",
                    "text_bpe_apply",
                )
            }
        assert results["3"] == results["17"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
