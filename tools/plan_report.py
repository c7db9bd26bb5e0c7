"""Generate PLANS.md: the physical-plan evidence table.

For each headline query (plus the showcase operators), records the
plan properties the 100TB-readiness argument rests on — pushdown
reaching the scan, broadcast joins on dim sides, exchange counts,
codegen spans, sorted-limit top-K, and the absence of cartesian
products — extracted from the EXECUTED plan string, so the table is
regenerable evidence, not prose.

Usage: python tools/plan_report.py   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from innercircle_etl_spark.plan_text import real_shuffle_exchanges  # noqa: E402
from innercircle_etl_spark.plans import QUERIES  # noqa: E402
from innercircle_etl_spark.session import (  # noqa: E402
    drop_query_caches,
    get_spark,
)  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

SHOWCASE = [
    "a3_sum_min_max_avg",
    "p2_p3_time_range",
    "j1_multiway_join",
    "j7_asof_join",
    "j9_join_to_latest",
    "j12_interval_bucket_join",
    "w1_latest_per_key",
    "w4b_global_rank_scalable",
    "o1_global_topk",
    "x12_salted_agg",
    "x_bucketed_colocated_join",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_substring_spans",
    "ann_lsh_bucketed",
    "ann_ivf_probe",
    "text_bm25_search",
    "w10_twap",
    "q3_outlier_zscores",
    "ep3_roi_cascade",
    "ep5_shadow_trade",
    "ep9_vector_index_pipeline",
    "samp_epoch_shuffle",
    "samp_weighted_resample",
    "x11_salted_skew_join",
    "text_boilerplate_scrub",
    "dedup_incremental_minhash",
    "a17_sketch_set_intersection",
    "text_chunk_windows",
    "ep10_rag_retrieval",
    "dedup_ngram_jaccard_w5",
    # round-9 additions
    "ann_ivf_fixed_k",
    "ep10_rag_retrieval_ann",
    "text_lm_rarity_filter",
    "dedup_bloom_incremental",
    "w12_sessionize",
    "seq_funnel_states",
    "ep11_ingest_dedup",
    "samp_dsir_importance",
    "ep12_training_mix",
    "samp_temperature_mix",
    "decon_semantic_embeddings",
    "tok_bpe_pair_stats",
    "samp_unimax",
    "ann_hard_negatives",
    "tok_apply_vocab",
    "samp_bottomk_fixed",
    "ep13_contrastive_pairs",
    "ep14_multimodal_pairs",
    "graph_triangles_sampled",
    "ann_hard_negatives_ann",
    "ep13_contrastive_pairs_ann",
    "ann_hard_negatives_amortized",
    "ep13_contrastive_pairs_amortized",
    # round-12 additions: the persisted-index lifecycle
    "ann_hard_negatives_persisted",
    "ep13_contrastive_pairs_persisted",
    "ann_index_incremental_update",
    "ann_hard_negatives_cellpart",
    "ann_index_stream_update",
    "ann_index_cellpart_update",
    "ann_index_versioned_update",
    # round-13/14 additions: compaction + the DELETE verb + the
    # registered RAG production path
    "ann_index_cellpart_compact",
    "ann_index_cellpart_delete",
    "rag_ann_production",
    # round-15 additions: the versioned DELETE/compact compositions
    # + the production-plane multiprobe control
    "ann_index_versioned_delete",
    "ann_index_versioned_compact",
    "dedup_embedding_multiprobe_scaled",
]


def props(plan: str, fmt: str) -> dict:
    return {
        "pushed": bool(
            re.search(r"PushedFilters: \[[^\]]+\]", fmt)
        ),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        # real exchanges only — shared classifier (plan_text) so the
        # report and the plan tests can never count differently
        "exch": len(real_shuffle_exchanges(plan)),
        "reused": plan.count("ReusedExchange"),
        "wsc": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "topk": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
    }


def main() -> None:
    spark = get_spark(app_name="plan_report", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in SHOWCASE:
        df = QUERIES[name](spark, SF_DIR)
        df.collect()  # finalize AQE so the executed plan is real
        plan = df._jdf.queryExecution().executedPlan().toString()
        # an adaptive plan's toString echoes the pre-AQE plan after
        # an "== Initial Plan ==" marker — count the FINAL plan only
        plan = plan.split("== Initial Plan ==")[0]
        fmt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rows.append((name, props(plan, fmt)))
        drop_query_caches(spark)

    with open("/root/repo/PLANS.md", "w") as f:
        f.write(
            "# PLANS — executed-plan evidence (generated by "
            "tools/plan_report.py at sf0.01)\n\n"
            "| query | pushed filters | broadcast joins | SMJ | "
            "exchanges | reused | codegen spans | "
            "sorted-limit top-K | cartesian |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, p in rows:
            f.write(
                f"| {name} | {'yes' if p['pushed'] else '—'} |"
                f" {p['bhj']} | {p['smj']} | {p['exch']} |"
                f" {p['reused']} | {p['wsc']} |"
                f" {'yes' if p['topk'] else '—'} |"
                f" {'YES (!)' if p['cartesian'] else 'none'} |\n"
            )
        f.write(
            "\nNotes: counts come from the AQE-finalized executed "
            "plan (initial-plan echo stripped). 'exchanges' counts "
            "shuffle exchanges only (hash/range/single partition — "
            "broadcast exchanges show up as broadcast joins); the "
            "bucketed co-located join's single exchange is its "
            "post-join rollup, and the salted aggregate's two are "
            "its (key,salt) then key phases by design. Zero "
            "cartesian products across the set is asserted "
            "per-query in tests/test_physical_plans.py as well. "
            "Caveat: the composite cascades (ep3/ep5) pin or "
            "eagerly checkpoint their shared intermediates, so "
            "their rows describe the TAIL DAG only — upstream "
            "exchanges (including the fused single-pass fact "
            "scan's one coll repartition) execute at construction "
            "time behind an InMemoryRelation/ExistingRDD boundary "
            "and are invisible here; the fused form's "
            "no-exchange-beyond-the-repartition property is "
            "asserted at subtree grain in tests/test_physical_"
            "plans.py::test_fused_fact_no_exchange_beyond_"
            "repartition (round-7 verdict item 4).\n"
        )
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
