"""Dump formatted physical plans → docs/plans/<query>[_<suffix>].txt.

Evidence artifacts: PushedFilters / ReadSchema / join strategies /
exchange counts are visible without running anything.

Usage: python tools/dump_plans.py [--suffix before|after] [sf_dir [query ...]]

No query list dumps the flagship set below. A suffix keeps before/after
snapshots of an optimization side by side.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rspl_spark.queries import load_registry  # noqa: E402
from rspl_spark.session import get_spark  # noqa: E402

FLAGSHIPS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_asof_join",
    "q_minhash_lsh_pairs",
    "q_cosine_topk_bruteforce",
    "q_sessionize",
    "q12_late_priority",
    "q21_waiting_suppliers",
    "q_simhash_neardup_pairs",
    "q_corpus_clean_pipeline",
    "q_salted_join",
    "q_skew_count_distinct",
    "q_bucketed_join",
    "q_token_packing_sharded",
    "q_mix_sources_upsampled",
    "q_repetition_signals",
    "q_asof_join_forward",
    "q_mix_temperature",
    "q_quality_weighted_sample",
    "q_incremental_dedup",
    "q_multimodal_decode_pgm",
    "q_embedding_cosine_pairs",
    "q_incremental_agg",
    "q_binned_range_join",
    "q_ann_pq_adc",
    "q_semantic_dedup",
    "q_multimodal_decode_wav",
    "q_multimodal_decode_bmp",
    "q_zorder_key",
    "q_heavy_hitters_cms",
    "q_quality_classifier",
    "q_bigram_lm_perplexity",
    "q_approx_distinct_hll",
    "q_ann_pq_adc_incremental",
    "q_approx_percentile_hist",
    "q_hll_daily_users",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q16_parts_supplier",
    "q_scd2_merge_rebuild",
    "q_scd2_fact_enrich",
    "q_fuzzy_join_trigram",
    "q_edit_distance_join",
    "q_cosine_topk_int8",
    "q_psi_drift",
    "q_rate_anomalies",
    "q_chi_square",
    "q_hll_intersect",
    "q_peak_concurrency",
    "q_winsorize",
    "q_quality_audit",
    "q_table_diff",
    "q_orc_roundtrip",
    "q20_potential_promotion",
    "q_cosine_topk_ivf_incremental",
    "q_cosine_topk_srp_incremental",
    "q_semantic_dedup_adaptive",
]


def main() -> None:
    suffix = ""
    if "--suffix" in sys.argv:
        i = sys.argv.index("--suffix")
        suffix = "_" + sys.argv[i + 1]
        del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "plans")
    os.makedirs(out_dir, exist_ok=True)
    reg = load_registry()
    spark = get_spark("plans")
    for name in sys.argv[2:] or FLAGSHIPS:
        try:
            plan = reg[name].fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:
            plan = f"ERROR dumping plan: {e}"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}{suffix} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
