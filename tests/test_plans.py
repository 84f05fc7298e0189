"""Physical-plan regression tests: the plans we designed for must survive
code changes — pushdown reaches the scan, projections prune, dims broadcast,
shuffle counts stay at the designed minimum (SCALE.md shuffle inventory)."""

from __future__ import annotations

from vat_etl_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)
from vat_etl_spark.queries import QUERIES
from vat_etl_spark.sources.catalog import read_table


def test_q1_filter_pushed_to_scan(spark, sf_smoke):
    df = QUERIES["q1_pricing_summary"](spark, sf_smoke)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_flagship_prunes_columns(spark, sf_smoke):
    df = QUERIES["vat_summary"](spark, sf_smoke)
    schemas = read_schema_columns(df)
    li = next(s for s in schemas if "l_extendedprice" in s)
    assert "l_comment" not in li and "l_partkey" not in li and len(li) <= 6
    o = next(s for s in schemas if "o_orderdate" in s)
    assert o == {"o_orderkey", "o_orderdate"}


def test_flagship_broadcasts_orders(spark, sf_smoke):
    assert has_broadcast_join(QUERIES["vat_summary"](spark, sf_smoke))


def test_q5_broadcasts_dims(spark, sf_smoke):
    assert has_broadcast_join(QUERIES["q5_region_revenue"](spark, sf_smoke))


def test_knn_has_no_shuffle_before_topk(spark, sf_smoke):
    # broadcast query side + window on qid: exactly one exchange (the window)
    df = QUERIES["knn_bruteforce_cosine"](spark, sf_smoke)
    assert shuffle_count(df) <= 1
    assert has_broadcast_join(df)


def test_flagship_single_agg_shuffle(spark, sf_smoke):
    # hierarchical agg: stage-1 partial exchange (periods × partitions rows)
    # + stage-2 merge exchange + the final 320-row sort — all tiny
    df = QUERIES["vat_summary"](spark, sf_smoke)
    assert shuffle_count(df) <= 3


def test_q14_broadcasts_part(spark, sf_smoke):
    from vat_etl_spark.plans import has_broadcast_join

    assert has_broadcast_join(QUERIES["q14_promo_by_brand"](spark, sf_smoke))


def test_topk_uses_take_ordered(spark, sf_smoke):
    # orderBy+limit must compile to TakeOrderedAndProject (no global sort)
    from vat_etl_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["topk_customers"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


def test_chunking_is_map_only(spark, sf_smoke):
    # explode+substring chunking must not shuffle
    assert shuffle_count(QUERIES["text_chunking"](spark, sf_smoke)) == 0


def test_partition_pruning_on_partitioned_sink(spark, sf_smoke, tmp_path):
    """A filter on the partition column must prune at planning time
    (PartitionFilters in the scan, only matching directories read)."""
    import re

    from pyspark.sql import functions as F

    from vat_etl_spark.plans.inspect import formatted_plan

    out = str(tmp_path / "orders_by_year")
    o = spark.read.parquet(f"{sf_smoke}/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )
    o.write.partitionBy("yr").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter(F.col("yr") == 1997).select("o_orderkey")
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "1997" in m.group(1), plan[:500]
    assert df.count() == o.filter(F.col("yr") == 1997).count()


def test_udtf_expands_rows(spark, sf_smoke):
    from pyspark.sql import functions as F

    df = QUERIES["udtf_segment_split"](spark, sf_smoke)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(200)
    n_docs = docs.count()
    assert df.count() > n_docs  # genuine row expansion
    # each segment ≤ 10 tokens; segment count per doc = ceil(n_tokens/10)
    assert df.filter(F.col("n_tokens") > 10).count() == 0


def test_q3_pushes_filters_and_broadcasts(spark, sf_smoke):
    df = QUERIES["q3_shipping_priority"](spark, sf_smoke)
    fs = pushed_filters(df)
    assert any("l_shipdate" in f for f in fs)
    assert any("c_mktsegment" in f for f in fs)
    assert has_broadcast_join(df)


def test_q6_sql_frontend_pushes_all_predicates(spark, sf_smoke):
    df = QUERIES["sql_q6_forecast_revenue"](spark, sf_smoke)
    fs = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in fs), (col, fs)


def test_q6_sql_frontend_prunes_columns(spark, sf_smoke):
    df = QUERIES["sql_q6_forecast_revenue"](spark, sf_smoke)
    cols = next(iter(read_schema_columns(df)))
    assert cols == {"l_extendedprice", "l_discount", "l_shipdate", "l_quantity"}


def test_q18_broadcasts_having_key_set(spark, sf_smoke):
    assert has_broadcast_join(QUERIES["q18_large_orders"](spark, sf_smoke))


def test_word_positions_is_map_only(spark, sf_smoke):
    assert shuffle_count(QUERIES["text_word_positions"](spark, sf_smoke)) == 0


def test_dynamic_partition_pruning_on_dim_filter(spark, sf_smoke, tmp_path):
    """Dynamic partition pruning: a fact partitioned on yr, joined to a dim
    whose FILTER decides the matching years at runtime — the scan must show
    a dynamicpruning subquery instead of reading all partitions. This is
    the star-schema scale mechanism: the dim filter prunes fact partitions
    without the fact ever materializing unmatched years."""
    from pyspark.sql import functions as F

    from vat_etl_spark.plans.inspect import formatted_plan

    out = str(tmp_path / "orders_part")
    o = spark.read.parquet(f"{sf_smoke}/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )
    o.write.partitionBy("yr").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(1996, "keep"), (1997, "keep")], "yr int, tag string"
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), "yr").select(
        "yr", "o_orderkey"
    )
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:800]
    expected = o.filter(F.col("yr").isin(1996, 1997)).count()
    assert joined.count() == expected


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_smoke):
    """Runtime row-level Bloom filter (Spark injected, no code): a selective
    filter on one join side materializes a Bloom filter that is pushed into
    the OTHER side's scan as might_contain(l_orderkey) — shuffling only
    probable matches instead of the whole fact table. The 100 TB payoff of
    a shuffle join whose build side is selective but not broadcastable."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # thresholds sized for production data; zero them so smoke-scale shows the plan
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_smoke, "lineitem")
        o = read_table(spark, sf_smoke, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in plan.lower() or "might_contain" in plan.lower(), plan[:1500]
        # and the result is still correct
        expected = (
            read_table(spark, sf_smoke, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .count()
        )
        assert j.count() == expected
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_cached_table_plans_in_memory_scan(spark, sf_smoke):
    """df.cache(): second use of a cached relation plans as
    InMemoryTableScan (columnar cache reuse) instead of re-reading parquet."""
    li = read_table(spark, sf_smoke, "nation").cache()
    try:
        li.count()  # materialize
        plan = li.groupBy("n_regionkey").count()._jdf.queryExecution(
        ).executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:1200]
    finally:
        li.unpersist()


def test_fuzzy_match_broadcasts_supplier_side(spark, sf_smoke):
    # blocked fuzzy join: equi-join on the blocking key with the small side
    # broadcast — levenshtein must not force a cross join or extra shuffle
    df = QUERIES["fuzzy_match_names"](spark, sf_smoke)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 0


def test_zscore_broadcasts_group_stats(spark, sf_smoke):
    # two-pass normalize: the fact table must NOT be shuffled to attach the
    # group stats — stats aggregate shuffles (tiny), stats broadcast back
    df = QUERIES["feature_zscore_normalize"](spark, sf_smoke)
    assert has_broadcast_join(df)
    schemas = read_schema_columns(df)
    li = next(s for s in schemas if "l_quantity" in s)
    assert "l_comment" not in li and "l_extendedprice" not in li


def test_rollup_cascade_scans_fact_once(spark, sf_smoke):
    # the cascade's coarser grains re-aggregate the persisted day-grain
    # partials: executed plan reads the cache (InMemoryTableScan), and the
    # union branches add no extra parquet scans beyond the cached one
    df = QUERIES["ts_rollup_cascade"](spark, sf_smoke)
    df.write.format("noop").mode("overwrite").save()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("InMemoryTableScan") == 3


def test_proration_single_shuffle(spark, sf_smoke):
    # join broadcasts, then all three windows share one orderkey exchange
    df = QUERIES["fin_allocate_proration"](spark, sf_smoke)
    assert shuffle_count(df) == 1
    assert has_broadcast_join(df)


def test_pvm_date_range_pushed_to_scan(spark, sf_smoke):
    df = QUERIES["fin_price_volume_mix"](spark, sf_smoke)
    assert any("o_orderdate" in f for f in pushed_filters(df))
    assert has_broadcast_join(df)


def test_weighted_median_windows_share_shuffle(spark, sf_smoke):
    # pre-agg exchange + one brand exchange shared by both windows
    df = QUERIES["agg_weighted_median"](spark, sf_smoke)
    assert shuffle_count(df) <= 2
    assert has_broadcast_join(df)


def test_quantize_is_map_only(spark, sf_smoke):
    assert shuffle_count(QUERIES["embed_quantize_int8"](spark, sf_smoke)) == 0


def _broadcast_hint_count(df) -> int:
    """Explicit F.broadcast hints surviving in the analyzed logical plan —
    independent of whether the physical planner ALSO chooses broadcast via
    the size threshold (at test SF it will)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return plan.count("ResolvedHint (strategy=broadcast)")


def test_q5_hints_only_constant_dims(spark, sf_smoke):
    # nation + region only: customer/supplier grow with SF, so a hard
    # broadcast hint would OOM at 100x — the threshold/AQE decides for them.
    df = QUERIES["q5_region_revenue"](spark, sf_smoke)
    assert _broadcast_hint_count(df) == 2
    assert has_broadcast_join(df)  # dims still broadcast at this size


def test_q3_has_no_broadcast_hint(spark, sf_smoke):
    df = QUERIES["q3_shipping_priority"](spark, sf_smoke)
    assert _broadcast_hint_count(df) == 0


def test_tpch_hints_only_constant_dims(spark, sf_smoke):
    # every remaining hint in the TPC-H module sits on nation/region or a
    # 1-row scalar aggregate; part/supplier/order-derived sides are unhinted
    expected = {"q2_best_supplier_per_part": 2, "q8_market_share": 3,
                "q9_product_profit": 1, "q21_waiting_orders": 1}
    for name, n in expected.items():
        df = QUERIES[name](spark, sf_smoke)
        assert _broadcast_hint_count(df) <= n + 1, name


def test_repetition_and_gopher_are_map_only(spark, sf_smoke):
    # both claim "pure scan, zero shuffles at 100 TB" — pin it
    assert shuffle_count(QUERIES["text_repetition_ngram"](spark, sf_smoke)) == 0
    assert shuffle_count(QUERIES["pipeline_quality_gopher"](spark, sf_smoke)) == 0


def test_contamination_broadcasts_eval_side(spark, sf_smoke):
    # the corpus side must never shuffle for the join; only the per-doc
    # count aggregate shuffles
    df = QUERIES["pipeline_contamination_ngram"](spark, sf_smoke)
    assert has_broadcast_join(df)


def test_packing_partitions_on_composite_lang_shard_key(spark, sf_smoke):
    """The packers and the per-group sampler must never key a shuffle on
    bare lang (a ~5-value partition key receives an entire language's
    stream at scale): every exchange/window over lang must carry the
    shard column too, and the final sampler window's input is the
    shard-bounded survivor set, not the full table."""
    packing = QUERIES["pipeline_seq_packing"](spark, sf_smoke)
    plan = packing._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(lang" in plan and ", shard" in plan.split(
        "hashpartitioning(lang", 1
    )[1].split(")")[0]

    nosplit = QUERIES["pipeline_seq_packing_nosplit"](spark, sf_smoke)
    nplan = nosplit._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas [lang" in nplan and "shard" in nplan.split(
        "FlatMapGroupsInPandas [lang", 1
    )[1].split("]")[0]

    sample = QUERIES["sample_fixed_per_group"](spark, sf_smoke)
    splan = sample._jdf.queryExecution().executedPlan().toString()
    # two windows: the (lang, shard) partial top-k feeding the lang final
    assert splan.count("Window [row_number()") == 2
    # the deepest (first-executed) exchange carries the composite key
    exchange_keys = [
        seg.split(")")[0]
        for seg in splan.split("Exchange hashpartitioning(")[1:]
    ]
    assert any("shard" in k for k in exchange_keys), exchange_keys


def test_rarity_score_has_no_forced_vocab_broadcast(spark, sf_smoke):
    """text_rarity_score joins tokens against the corpus-derived vocab —
    an unbounded relation at web scale. The plan must not FORCE a
    broadcast of it (AQE may still choose one when the measured size is
    small; the logical plan carrying no hint is the contract)."""
    df = QUERIES["text_rarity_score"](spark, sf_smoke)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_temperature_mix_broadcasts_rate_table(spark, sf_smoke):
    # the |langs|-row rate table must broadcast; the corpus side must never
    # be the build side of anything
    assert has_broadcast_join(QUERIES["pipeline_temperature_mix"](spark, sf_smoke))


def test_semantic_dedup_broadcasts_centroids(spark, sf_smoke):
    assert has_broadcast_join(QUERIES["dedup_semantic_clustered"](spark, sf_smoke))


def test_global_shuffle_single_exchange(spark, sf_smoke):
    # one hash exchange into shards + the per-shard sort — no global
    # single-partition window, no extra shuffle
    from vat_etl_spark.plans import formatted_plan

    df = QUERIES["pipeline_global_shuffle"](spark, sf_smoke)
    assert shuffle_count(df) <= 1
    assert "SinglePartition" not in formatted_plan(df)


def test_epoch_upsample_is_map_only(spark, sf_smoke):
    # explode of sequence(1, n_copies): zero exchanges
    assert shuffle_count(QUERIES["pipeline_epoch_upsample"](spark, sf_smoke)) == 0


def test_bigram_fluency_no_forced_broadcast(spark, sf_smoke):
    # corpus-derived count tables must not carry a broadcast HINT (the
    # text_rarity_score lesson): the analyzed plan may contain no
    # ResolvedHint (probed: F.broadcast shows up there — e.g.
    # pipeline_contamination_ngram's eval side); AQE is free to pick
    # broadcast at runtime from measured sizes, which is exactly the point
    df = QUERIES["text_bigram_fluency"](spark, sf_smoke)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_substring_dedup_no_forced_broadcast(spark, sf_smoke):
    """The span index and the line survivor table are corpus-derived (a
    web-scale corpus outgrows any driver's broadcast budget) — neither
    may carry a broadcast HINT; AQE decides from measured sizes. KN's one
    ResolvedHint is the 1-row type-count aggregate, which is exempt by
    the same rule that allows stats broadcasts elsewhere."""
    for name in ("pipeline_span_removal", "pipeline_line_dedup"):
        analyzed = (
            QUERIES[name](spark, sf_smoke)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "ResolvedHint" not in analyzed, name


def test_bpe_apply_is_map_only(spark, sf_smoke):
    # K nested in-row merge folds over the word array: a bare projection
    # over the scan, zero exchanges (the docstring's scale claim)
    assert shuffle_count(QUERIES["text_bpe_apply"](spark, sf_smoke)) == 0


def test_retrieval_family_topk_plans(spark, sf_smoke):
    # every retrieval query's final ordering must compile to
    # TakeOrderedAndProject — never a global sort of the corpus. (The
    # unpartitioned rank windows inside rrf/prf are k-row by construction:
    # their inputs are post-limit top-50 survivor sets.)
    from vat_etl_spark.plans import formatted_plan

    for name in (
        "retrieval_hybrid_rrf",
        "retrieval_chunk_maxp",
        "retrieval_prf_rm3",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_smoke))
        assert "TakeOrderedAndProject" in plan, name


def test_collocation_pmi_plan_shape(spark, sf_smoke):
    """PMI mining must end in TakeOrderedAndProject (never a global sort
    of the collocation table) and the unigram count tables — corpus-
    derived — must carry no broadcast hint beyond the two 1-row totals
    (AQE owns the join strategy)."""
    df = QUERIES["text_collocation_pmi"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2  # n_uni + n_bi 1-row totals


def test_phash_banded_join_is_equi_join_never_allpairs(spark, sf_smoke):
    """The pHash near-dup detector's candidate stage must compile to a
    band-keyed EQUI-join — never a cartesian/broadcast-nested-loop
    all-pairs (the degenerate shape banding exists to avoid). The ra<rb
    ordering and Hamming threshold must ride the equi-join as post-join
    filters, not become the join condition."""
    from vat_etl_spark.plans import formatted_plan
    from vat_etl_spark.queries import QUERIES

    plan = formatted_plan(QUERIES["multimodal_dedup_phash"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_no" in plan and "band_key" in plan
