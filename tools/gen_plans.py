"""Regenerate PLANS.md: formatted physical plans of the showcase queries.

PLANS.md is evidence for review (the machine-checked assertions live in
tests/test_plans.py); this script keeps it honest by regenerating every
section from the live code. Section list = the bench headliners + the
plan-shape showcases (two-pass rank family, pushdown/broadcast exemplars).

Usage: python tools/gen_plans.py   (env: SPARK_GRAFT_SF_DIR, default sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vat_etl_spark.plans.inspect import formatted_plan  # noqa: E402
from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402

SECTIONS = [
    # flagship + TPC-H classics
    "vat_summary",
    "q1_pricing_summary",
    "q5_region_revenue",
    "q9_product_profit",
    "q21_waiting_orders",
    "topk_customers",
    "q3_shipping_priority",
    "sql_q6_forecast_revenue",
    # window / events / text / dedup / similarity showcases
    "window_top3_orders_per_customer",
    "events_sessionize",
    "text_doc_frequency",
    "dedup_exact",
    "knn_bruteforce_cosine",
    "ts_rollup_cascade",
    "ts_gapfill_interpolate",
    "feature_zscore_normalize",
    "fuzzy_match_names",
    "pipeline_incremental_agg",
    "pipeline_snapshot_diff",
    "window_abc_classification",
    "events_transition_matrix",
    "fin_allocate_proration",
    "basket_association_rules",
    "dq_duplicate_payments",
    "graph_triangle_count",
    "agg_weighted_median",
    "fin_price_volume_mix",
    "ts_time_weighted_avg",
    "ts_cusum_drift",
    "ts_interarrival_p95",
    # round-6 plan-shape showcases: the two-pass range-partitioned family
    # (bucketed WindowExec, never single-partition) + retrieval/LLM tier
    "ids_assign_stable",
    "agg_gini_concentration",
    "agg_lorenz_deciles",
    "events_rfm_segmentation",
    "events_max_concurrency",
    "multimodal_shard_packing",
    "pipeline_contamination_ngram",
    "pipeline_contamination_containment",
    "text_bigram_fluency",
    "retrieval_hybrid_rrf",
    "retrieval_chunk_maxp",
    # round-7 showcases: span-index + doc-partitioned interval merge +
    # map-only reconstruct; type-table re-aggregation LM; histogram-grain
    # bucket window; composite-min line survivorship; int64 Jacobi rounds
    "pipeline_span_removal",
    "text_kneser_ney_bigram",
    "pipeline_perplexity_buckets",
    "pipeline_perplexity_fixed_lm",
    "pipeline_line_dedup",
    "graph_pagerank",
    # round-8 showcases: map-only classifier inference (tokenize-to-column
    # + constant-folded weight array — the O(len²) lambda fix); serve-only
    # beam search over the persisted NN-Descent index; banded LSH join
    # sized for measured recall 1.0
    "pipeline_quality_classifier",
    "ann_graph_search",
    "ann_lsh_bucketed",
    # fenced ml.feature A/B reference (round-11) + the banded production path
    "dedup_minhash_ml_reference",
    "dedup_minhash_banded",
    "dedup_simhash",
    # BPE apply as a zero-shuffle rank-priority-encoder projection;
    # the filter-agreement analysis (three registered subplans, one 3-way
    # join, one aggregate row)
    "text_bpe_apply",
    "quality_filter_agreement",
]

HEADER = """# PLANS — physical plans of the headline queries (generated)

Generated by tools/gen_plans.py from `vat_etl_spark.plans.inspect
.formatted_plan` over the showcase queries at sf0.1; this file is evidence
for review, not source — the machine-checked assertions live in
tests/test_plans.py. Things to look for, per SCALE.md: `PushedFilters` on
every scan, pruned `ReadSchema`, `BroadcastHashJoin` on dim sides,
`TakeOrderedAndProject` for top-k, shuffle (`Exchange`) counts at the
designed minimum, and — for the two-pass rank family — WindowExec nodes
that are ALWAYS partitioned (by the range bucket), never global.
"""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark("gen-plans")
    parts = [HEADER]
    for name in SECTIONS:
        df = QUERIES[name](spark, sf_dir)
        parts.append(f"\n## {name}\n\n```\n{formatted_plan(df).rstrip()}\n```\n")
        print("ok", name, flush=True)
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("".join(parts))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
