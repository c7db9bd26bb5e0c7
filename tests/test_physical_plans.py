"""Physical-plan assertions: the 100TB-readiness gate.

Correctness says the answer is right at sf0.01; these tests pin the
*shape* of the plan — the properties that decide whether the same
query survives a 1000-executor, 100TB run:

- small dimensions broadcast (no shuffle of the big fact side)
- filters reach the parquet scan (PushedFilters)
- projections prune the scan schema (ReadSchema)
- aggregates run map-side partials before the shuffle
- global top-K is TakeOrderedAndProject (or a per-group
  WindowGroupLimit), never a full sort
- nothing degenerates into a cartesian product
"""

from __future__ import annotations

import re

import pytest

from innercircle_etl_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "name",
    [
        "j1_multiway_join",
        "j9_join_to_latest",
        "ep3_roi_cascade",
    ],
)
def test_small_dims_broadcast(spark, sf_dir, name):
    """Dim-side joins must be broadcast hash joins: shuffling the
    fact table on a join key it doesn't otherwise need is the first
    thing that dies at 100TB."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "p2_p3_time_range",
        "p4_p5_inlist_like",
        "j1_multiway_join",
    ],
)
def test_filters_pushed_to_scan(spark, sf_dir, name):
    """Predicates must reach the parquet reader (row-group skipping
    at scale == partition pruning's little sibling)."""
    plan = formatted_plan(spark, sf_dir, name)
    pushed = [
        ln
        for ln in plan.splitlines()
        if "PushedFilters:" in ln and "PushedFilters: []" not in ln
    ]
    assert pushed, plan


def test_projection_prunes_scan(spark, sf_dir):
    """A 2-column projection must not read the whole table: ReadSchema
    on the lineitem scan should carry only the referenced columns."""
    plan = formatted_plan(spark, sf_dir, "p1_project_arithmetic")
    read_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_lines, plan
    # p1 projects eth_value-style arithmetic over a few columns;
    # the full lineitem table has 16 (separators: n_cols - 1 commas)
    for ln in read_lines:
        assert ln.count(",") <= 5, ln
        assert "l_comment" not in ln, ln


def test_aggregate_has_map_side_partial(spark, sf_dir):
    """groupBy aggregates must partial-aggregate before the exchange
    (Catalyst does this automatically — this guards against ever
    expressing the agg in a way that defeats it)."""
    plan = plan_of(spark, sf_dir, "a3_sum_min_max_avg")
    assert "partial_" in plan, plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    """ORDER BY .. LIMIT k must compile to TakeOrderedAndProject —
    a full global sort of 100TB to keep 200 rows is the textbook
    anti-pattern."""
    plan = plan_of(spark, sf_dir, "o1_global_topk")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "ep3_roi_cascade",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "j7_asof_join",
        "j11_pairs_jaccard",
    ],
)
def test_no_cartesian_products(spark, sf_dir, name):
    """Candidate-generation and as-of patterns must never fall back
    to CartesianProduct / BroadcastNestedLoopJoin on the big side."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """Scan→filter→project→aggregate pipelines should sit inside
    WholeStageCodegen spans (JVM-side, vectorized). AQE only
    finalizes the physical plan on execution, so run the query
    before inspecting."""
    df = QUERIES["a3_sum_min_max_avg"](spark, sf_dir)
    # AQE finalizes (and codegens) the plan only on execution, and
    # count() would spawn a separate query execution — collect()
    # runs THIS DataFrame's plan.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' is the WholeStageCodegen stage marker in plan toString
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """Bucketed co-located join: both inputs are pre-partitioned +
    pre-sorted bucket files, so the SMJ consumes scans directly —
    the plan's ONLY exchange is the post-join rollup. This is the
    write-once/join-many storage layout for repeated big-big joins."""
    plan = plan_of(spark, sf_dir, "x_bucketed_colocated_join")
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_salted_agg_two_phase_exchanges(spark, sf_dir):
    """x12: exactly one exchange keyed by (flag, salt) then one by
    flag alone — the salt must actually change the first shuffle's
    distribution or the hot key still lands on one reducer."""
    plan = plan_of(spark, sf_dir, "x12_salted_agg")
    assert "__salt" in plan, plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("__salt" in ln for ln in exchanges), plan
    assert any(
        "l_returnflag" in ln and "__salt" not in ln for ln in exchanges
    ), plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_cosine",
        "ann_pq_adc",
        "ann_lsh_multiprobe",
        "ep4_circles",
        "text_tfidf_terms",
        "dedup_edit_distance",
        "graph_pagerank3",
        "samp_stratified_hash",
        # round-4 additions
        "dedup_embedding_multiprobe",
        "a15_cms_heavy_hitters",
        "a16_hll_mergeable_rollup",
        "text_repetition_quality",
        "ann_sq_adc",
        "a1b_approx_distinct",
        "a8b_approx_percentile",
        "ann_ivf_lloyd",
        "ann_recall_lloyd",
        # round-5 additions
        "u12_cdc_apply",
        "s8_rest_source",
        "s9_rest_sink",
        "j12_interval_bucket_join",
        "dedup_substring_spans",
        "dedup_shingle_containment",
        "text_bm25_search",
        "w10_twap",
        "q3_outlier_zscores",
        "ep9_vector_index_pipeline",
        "dedup_semantic_clusters",
        "text_mix_weights",
        "s15_partitioned_db_pull",
        "q4_key_skew_report",
        "text_decontaminate",
        "rag_ann_production",
    ],
)
# i13_stream_cdc_apply is excluded from the plan-gate parametrize:
# building it executes the two-wave stream (side-effecting), and its
# merge plan is the same full-outer shape u12 gates.
def test_new_queries_no_cartesian(spark, sf_dir, name):
    """Round-2/3/4 additions keep the no-cartesian guarantee (the
    1-row broadcast crossJoins used for scalar/codebook delivery are
    BroadcastNestedLoopJoin over a single row — allowed; a
    CartesianProduct over data-sized inputs is not)."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def test_embedding_dedup_joins_on_bucket(spark, sf_dir):
    """The sign-bucket self-join must be keyed on the bucket — the
    whole point of LSH candidate generation. At test scale the
    planner may broadcast the small side (join keys still [bucket]);
    at cluster scale the same plan shuffles both sides on bucket."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert re.search(
        r"HashJoin \[bucket|hashpartitioning\(bucket", plan
    ), plan


def test_ep4_topk_avoids_full_sort(spark, sf_dir):
    """Both circle top-200 selections are per-generation row_number
    limits that compile to WindowGroupLimit; no rank, window or top-K
    moves all rows to one partition or range-sorts them globally."""
    plan = plan_of(spark, sf_dir, "ep4_circles")
    assert "WindowGroupLimit" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_partition_pruning_on_date_partitioned_warehouse(spark, sf_dir):
    """A date filter on a date-partitioned warehouse must prune at
    the directory level (PartitionFilters on the scan) — at 100TB
    this is the difference between listing 30 directories and
    scanning 7 years. Uses the ep1 warehouse layout."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from innercircle_etl_spark.pipeline import write_daily_partitioned
    from innercircle_etl_spark.plans.registry import load

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    path = f"{scratch}/prune_demo"
    shutil.rmtree(path, ignore_errors=True)
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    write_daily_partitioned(ev, path)

    df = spark.read.parquet(path).filter(F.col("d") == "2024-01-05")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pruned = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters:" in ln and "PartitionFilters: []" not in ln
    ]
    assert pruned, plan


def test_w4b_rank_uses_range_partitioning(spark, sf_dir):
    """The scalable global rank's data path must shuffle by RANGE on
    the sort key (parallel local windows + dim-sized offset join) —
    never a single-partition exchange of the ranked data.

    Since round 4 the ranged layout is pinned with an eager
    localCheckpoint (partitioning determinism is correctness — see
    windows.py), which TRUNCATES lineage: the registered query's
    final plan starts at a Scan ExistingRDD, so the range exchange
    is asserted on the pre-checkpoint segment it actually runs in."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.registry import load as _load

    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    nparts = max(spark.sparkContext.defaultParallelism // 4, 2)
    staged = cust.repartitionByRange(nparts, F.col("c_acctbal").desc())
    pre = staged._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in pre, pre

    plan = plan_of(spark, sf_dir, "w4b_global_rank_scalable")
    # the checkpoint boundary is visible as an RDD scan feeding the
    # window passes — prove the final plan consumes the pinned layout
    # rather than re-shuffling the data to a single partition
    assert "existingrdd" in plan.lower(), plan
    # the only SinglePartition exchange allowed is the #partitions-
    # sized offset cumsum, whose input is an aggregate over pid
    data_single = [
        ln
        for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln
    ]
    assert len(data_single) <= 1, plan


def test_dynamic_partition_pruning(spark, sf_dir):
    """Joining a date-partitioned fact to a FILTERED dim must inject
    a dynamic pruning subquery on the fact scan: at 100TB the dim
    filter's surviving dates decide which fact directories are read
    AT RUNTIME — without DPP the scan reads every partition."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from innercircle_etl_spark.pipeline import write_daily_partitioned
    from innercircle_etl_spark.plans.registry import load

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    path = f"{scratch}/dpp_demo"
    shutil.rmtree(path, ignore_errors=True)
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    write_daily_partitioned(ev, path)

    fact = spark.read.parquet(path)
    # dim: a handful of blessed dates, filtered by a non-partition
    # attribute so the pruning can only happen dynamically
    dim = (
        ev.select("d")
        .distinct()
        .withColumn("keep", F.dayofmonth("d") <= 3)
        .filter(F.col("keep"))
    )
    joined = fact.join(dim.hint("broadcast"), "d")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_interval_join_buckets_not_cartesian(spark, sf_dir):
    """j12: the pure interval-overlap join must run as an equi-join
    on the hour bucket (SortMergeJoin/ShuffledHashJoin keyed on
    bucket, or a broadcast of the exploded interval side) — never a
    CartesianProduct and never a BroadcastNestedLoopJoin carrying
    the range predicate."""
    plan = plan_of(spark, sf_dir, "j12_interval_bucket_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "bucket" in plan, plan


def _shuffle_exchanges(df) -> list[str]:
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    plan = df._jdf.queryExecution().executedPlan().toString()
    return real_shuffle_exchanges(plan)


def test_fused_fact_no_exchange_beyond_repartition(spark, sf_dir):
    """The fused single-pass fact scan's load-bearing plan property
    (roi_cascade.pin_by_coll, shared by build_cet_roi and ep5's fused
    legs; SCALE.md round-7 section): after the ONE repartition-by-coll
    exchange that feeds the pinned fact, the floor percentile
    ((coll, ev_date) groupBy) and the fused legs ((wallet, coll,
    ev_date, leg) groupBy) add NO further exchange —
    HashPartitioning(coll) satisfies ClusteredDistribution for any
    superset of {coll}. Asserted against the executed plan of the
    fact pin_by_coll returns: every shuffle exchange in both subtrees
    must be the REPARTITION_BY_COL on coll (the plan string prints
    the cached InMemoryRelation's exchange once per reference, so we
    classify rather than count)."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.operators.percentiles import percentile_disc
    from innercircle_etl_spark.plans.roi_cascade import load_fact, pin_by_coll

    fact = pin_by_coll(load_fact(spark, sf_dir))
    try:
        floor = percentile_disc(
            fact, ["coll", "ev_date"], "price", 0.2, out_col="floor_price"
        )
        legs = fact.groupBy(
            "wallet",
            "coll",
            "ev_date",
            (F.col("flag") == "R").alias("is_sell"),
        ).agg(F.min("price").alias("min_price"))

        for df in (floor, legs):
            exchanges = _shuffle_exchanges(df)
            assert exchanges, "expected the repartition exchange in-plan"
            for ln in exchanges:
                assert "REPARTITION_BY_COL" in ln and "coll" in ln, (
                    "exchange beyond the coll repartition:\n" + ln
                )
                assert "ev_date" not in ln and "wallet" not in ln, ln
    finally:
        fact.unpersist()

    # contrast: without the coll repartition the same percentile
    # grouping must shuffle on (coll, ev_date) — proving the
    # assertion above actually distinguishes the fused form
    lazy_floor = percentile_disc(
        load_fact(spark, sf_dir),
        ["coll", "ev_date"],
        "price",
        0.2,
        out_col="floor_price",
    )
    lazy_ex = _shuffle_exchanges(lazy_floor)
    assert any("ev_date" in ln for ln in lazy_ex), lazy_ex


def test_ep4_pins_each_fact_row_once(spark, sf_dir):
    """ep4 shuffles the plain fact into its one coll pin and tags the
    SCD generations over the pin, so the pin's REPARTITION_BY_COL
    exchange carries each fact row once and no ``gen`` column (the
    plan prints that exchange once per reference and once more in the
    cached plan's initial form, hence the distinct count). Over the
    same pin, build_cet_roi adds no exchange of its own: the as-of
    union keeps the coll partitioning, so ep3's wallet window is the
    only shuffle after the pin."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plan_text import real_shuffle_exchanges
    from innercircle_etl_spark.plans.roi_cascade import (
        build_cet_roi,
        load_fact,
    )
    from innercircle_etl_spark.session import drop_query_caches

    def strip_id(ln):
        return re.sub(r", \[plan_id=\d+\]", "", ln)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" +-:"))

    try:
        plan = plan_of(spark, sf_dir, "ep4_circles")
        pins = {
            strip_id(ln)
            for ln in real_shuffle_exchanges(plan)
            if "REPARTITION_BY_COL" in ln
        }
        assert len(pins) == 1 and "coll#" in pins.pop(), plan
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "REPARTITION_BY_COL" not in ln:
                continue
            for sub in lines[i + 1 :]:
                if depth(sub) <= depth(ln):
                    break
                assert not re.search(r"\bgen#", sub), sub

        cet = build_cet_roi(load_fact(spark, sf_dir))
        ranked = cet.withColumn(
            "coll_rank",
            F.row_number().over(
                Window.partitionBy("wallet").orderBy(F.col("coll_gain"))
            ),
        )
        after_pin = [
            ln
            for ln in _shuffle_exchanges(ranked)
            if "REPARTITION_BY_COL" not in ln
        ]
        assert len(after_pin) == 1, after_pin
        assert re.search(r"hashpartitioning\(wallet#\d+L, \d+\)", after_pin[0])
    finally:
        drop_query_caches(spark)


def test_ep6_aggregates_have_one_consumer(spark, sf_dir):
    """AQE does not reuse an exchange under a table-cache stage, so a
    (wallet, coll) aggregate over ep6's cached insider fact that two
    consumers read runs its map stage twice. In the optimized plan
    every such aggregate appears exactly once; copies are told by the
    columns they compute, as column pruning trims each copy's output
    to what its consumer reads."""
    from collections import Counter

    from innercircle_etl_spark.session import drop_query_caches

    try:
        df = QUERIES["ep6_insight_feed"](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        drop_query_caches(spark)
    computed = Counter(
        col
        for agg in re.findall(
            r"Aggregate \[wallet#\d+L, coll#\d+L\], (.*)", plan
        )
        for col in re.findall(r" AS (\w+)#", agg)
    )
    assert computed and set(computed.values()) == {1}, computed


def test_ivf_assignment_is_mapside_argmax(spark, sf_dir):
    """The IVF/Lloyd cell assignment must be the partial-aggregated
    max(struct) argmax, never a window over the corpus x codebook
    cross product (round 8: the window form shuffled every pair row
    with 64-double payloads on split-bound tasks — ann_ivf_lloyd
    timed out at sf1). Structure pinned here: a partial_max runs
    map-side, the corpus is spread by an explicit repartition, and
    the Lloyd codebook plan contains NO window at all (ivf_topk
    keeps two legitimate windows on dimension-sized query frames)."""
    plan = plan_of(spark, sf_dir, "ann_ivf_probe")
    assert "partial_max(struct" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan

    # the trained codebook itself is a checkpointed RDD scan, so the
    # training rounds' plans are asserted through the registered
    # query (whose construction executes them)
    lloyd_full = plan_of(spark, sf_dir, "ann_ivf_lloyd")
    assert "partial_max(struct" in lloyd_full, lloyd_full
    # no window may touch a corpus-sized frame in the lloyd DAG: the
    # only row_number windows allowed are the dimension-sized probe
    # and final top-k (both keyed on query-side columns)
    windows = [
        ln
        for ln in lloyd_full.splitlines()
        if "windowspecdefinition" in ln
    ]
    for ln in windows:
        assert "query_id" in ln or "ccos" in ln, ln


def test_label_propagation_plan_stays_bounded(spark, sf_dir):
    """The connected-components loop must truncate lineage each
    sweep (round 8: with cache() as a pseudo-barrier the logical
    plan compounded one join + the full MinHash edge pipeline per
    iteration, and at sf10 the driver spent >20 min single-core in
    analyzer/treeString work on the result). The final labels frame
    must read from checkpointed RDD scans — its plan may contain at
    most ONE join (the last sweep's) and no parquet scan of the
    documents table, because everything upstream is materialized."""
    from innercircle_etl_spark.plans import QUERIES

    df = QUERIES["dedup_cluster_canonical"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    n_joins = len(
        [ln for ln in plan.splitlines() if "Join" in ln and "Reused" not in ln]
    )
    assert n_joins <= 1, plan
    assert "parquet" not in plan.lower(), plan


def test_ivf_fixed_k_same_plan_shape(spark, sf_dir):
    """ann_ivf_fixed_k (constant-size codebook, k independent of n —
    the production-shaped configuration) must inherit ivf_topk's
    exact scale shape: map-side partial-aggregated argmax
    assignment, explicit corpus spread, and no window touching a
    corpus-sized frame."""
    plan = plan_of(spark, sf_dir, "ann_ivf_fixed_k")
    assert "partial_max(struct" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "query_id" in ln or "ccos" in ln, ln


def test_rag_ann_candidates_are_equi_join(spark, sf_dir):
    """ep10_rag_retrieval_ann's candidate generation must run as an
    equi-join keyed on the LSH bucket — never a CartesianProduct or
    a BroadcastNestedLoopJoin carrying the bucket predicate. (The
    EXACT leg inside the same DAG is a legitimate broadcast nested
    loop: it is the recall baseline ep10 already asserts; here we
    require at least one bucket-keyed hash join so the ANN leg's
    candidates are provably sub-linear.)"""
    plan = plan_of(spark, sf_dir, "ep10_rag_retrieval_ann")
    assert "CartesianProduct" not in plan, plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln or "SortMergeJoin" in ln
        or "ShuffledHashJoin" in ln
    ]
    assert any("bucket" in ln for ln in joins), plan


def test_lm_rarity_filter_plan_shape(spark, sf_dir):
    """text_lm_rarity_filter must keep the CCNet scoring pass in the
    100 TB-honest shape: the LM build and the per-doc sum are both
    partially aggregated (map-side combine before their shuffles),
    and no CartesianProduct appears — the only nested-loop joins are
    the broadcast 1-row aggregates (token total, corpus mean)."""
    plan = plan_of(spark, sf_dir, "text_lm_rarity_filter")
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combined LM build
    assert "partial_sum" in plan, plan  # map-side combined doc sum


def test_bloom_incremental_joins_broadcast(spark, sf_dir):
    """dedup_bloom_incremental's batch-time cost must be O(|batch|):
    the two position-set probes and the md5 ground-truth join are
    all broadcast dimension joins (the filter is m-bounded), and no
    corpus-sized shuffle or cartesian appears on the batch path."""
    plan = plan_of(spark, sf_dir, "dedup_bloom_incremental")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_sessionize_single_user_window_exchange(spark, sf_dir):
    """w12_sessionize is a ONE-shuffle query: the lag flag and the
    running session counter share one user-keyed sort/partitioning,
    and the per-session rollup's grouping keys (user_id,
    session_idx) are satisfied by that same hashpartitioning(user_id)
    — user_id is a subset of the keys — so no second exchange
    appears. A second real exchange means either the windows stopped
    sharing their sort or the rollup stopped reusing the window
    partitioning."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    plan = plan_of(spark, sf_dir, "w12_sessionize")
    assert "CartesianProduct" not in plan, plan
    ex = real_shuffle_exchanges(plan)
    assert len(ex) == 1, (ex, plan)
    assert "hashpartitioning(user_id" in ex[0], ex


def test_dsir_importance_plan_shape(spark, sf_dir):
    """samp_dsir_importance must keep DSIR's B-bounded-model shape:
    both hashed-bigram models are map-side-combined aggregates
    (partial_count before the bucket shuffle), the 4096-row ratio
    table joins the feature stream as a BROADCAST (scoring is
    map-side), the per-doc sum keeps its partial, and no cartesian
    appears (the only nested-loop join is the broadcast 1-row
    corpus mean)."""
    plan = plan_of(spark, sf_dir, "samp_dsir_importance")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "partial_sum" in plan, plan
    # single-aggregation model build (round 11): both hashed models
    # come from ONE groupBy with a conditional count, so the final
    # DAG reads the corpus exactly 4x — the two pool union branches
    # times the two inherent passes (model build, scoring). The old
    # two-groupBy form re-ran the bigram explosion a third time.
    scans = sum(
        1
        for line in plan.splitlines()
        if ("Scan parquet" in line or "FileScan" in line)
        and "documents" in line
    )
    assert scans <= 4, (scans, plan)


def test_semantic_decon_broadcast_probe(spark, sf_dir):
    """decon_semantic_embeddings must keep the asymmetric shape:
    the eval side (bucket keys and vector payloads) BROADCASTS —
    the train corpus is never self-joined and never shuffles its
    vectors — and the pinned train keying (Scan ExistingRDD) feeds
    both the probe and verify sides. No cartesian."""
    plan = plan_of(spark, sf_dir, "decon_semantic_embeddings")
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # pinned train keying
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_temperature_mix_plan_shape(spark, sf_dir):
    """samp_temperature_mix is one map-side-combined token-count
    shuffle plus a broadcast 1-row normalizer — no cartesian, no
    second corpus pass (the normalizing sums aggregate the
    language-bounded table, not the corpus)."""
    plan = plan_of(spark, sf_dir, "samp_temperature_mix")
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row normalizer


def test_ingest_dedup_cascade_shape(spark, sf_dir):
    """ep11_ingest_dedup's verdict legs must read the PINNED stage
    outputs (each gate's dropped-id set is eagerly localCheckpointed,
    so the 4-leg union shows scans of existing RDDs, not four
    re-executions of the bloom/minhash subtrees — the r8
    racing-consumer lesson; the LM partial-aggregate shape is pinned
    separately by test_lm_rarity_filter_plan_shape and runs here
    inside the pinned cull stage, so it is rightly ABSENT from the
    final plan), the kept-leg anti-join against the tiny cull set
    must broadcast, and no cartesian appears. Semantics: every
    batch doc gets exactly ONE verdict."""
    from innercircle_etl_spark.plans import QUERIES

    df = QUERIES["ep11_ingest_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # pinned stage outputs
    assert "BroadcastHashJoin" in plan, plan
    rows = df.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), "a doc got two verdicts"
    assert {r.verdict for r in rows} == {
        "exact_dup",
        "near_dup",
        "low_quality",
        "kept",
    }


def test_training_mix_cascade_shape(spark, sf_dir):
    """ep12_training_mix follows the ep11 pinning discipline: the
    verdict legs read eagerly-checkpointed stage sets (Scan
    ExistingRDD), the anti/semi joins against those tiny sets
    broadcast, no cartesian appears, and the per-language pack
    window partitions by lang (no global sort). Semantics: every
    pool doc gets exactly ONE verdict; only packed docs carry a
    shard_id."""
    from innercircle_etl_spark.plans import QUERIES

    df = QUERIES["ep12_training_mix"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # pinned stage outputs
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan, plan  # no global sort
    # single-pass output assembly (round 11): the verdict CASE +
    # conditional pack window read the corpus ONCE — the only two
    # document scans left in the final DAG are pool's own union
    # branches (corpus + planted eval copies), the structural floor.
    # The old 4-leg union re-scanned the corpus per leg (6 scans).
    assert plan.count("documents.parquet") <= 2, plan.count(
        "documents.parquet"
    )
    rows = df.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), "a doc got two verdicts"
    for r in rows:
        assert (r.shard_id is not None) == (r.verdict == "packed"), r
    assert {r.verdict for r in rows} == {
        "contaminated",
        "off_target",
        "downsampled",
        "packed",
    }


def test_funnel_states_single_shuffle_fold(spark, sf_dir):
    """seq_funnel_states must fold the funnel state machine in ONE
    user-keyed shuffle — no per-step re-shuffle (the oracle's
    three-pass relational form is exactly what the Spark plan must
    NOT do), no join at all, and the state fold stays a codegen'd
    column expression (no Python UDF node)."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    plan = plan_of(spark, sf_dir, "seq_funnel_states")
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan
    ex = real_shuffle_exchanges(plan)
    assert len(ex) == 1, (ex, plan)
    assert "hashpartitioning(user_id" in ex[0], ex
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "d1_decode_log_price",
        "d2_decode_calldata_token",
        "d12_trade_decode_pipeline",
        "q1_quality_report",
    ],
)
def test_abi_decode_runs_no_python_worker(spark, sf_dir, name):
    """The ABI decode kernels are Catalyst expressions: no query that
    decodes may plan a Python UDF node (each one starts Python
    workers and ships every row through Arrow)."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bpe_pair_stats_plan_shape(spark, sf_dir):
    """tok_bpe_pair_stats must be: ONE corpus-scale word-count
    shuffle + ONE vocabulary-bounded pair shuffle (both map-side
    combined), top-K as TakeOrderedAndProject (never a global sort),
    and the scan pruned to the text column."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    plan = plan_of(spark, sf_dir, "tok_bpe_pair_stats")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan  # no global sort
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert len(real_shuffle_exchanges(plan)) == 2, plan
    assert "ReadSchema: struct<text:string>" in plan, plan


def test_bpe_merges_output_is_pinned_rows(spark, sf_dir):
    """tok_bpe_merges' OUTPUT plan must be a union of the 5 LITERAL
    1-row merge frames (constant-folded projections over Range — the
    r16 collect-the-argmax form) — the iterative lineage (5
    count/argmax/apply rounds) must NOT re-enter the output plan
    (zero exchanges, zero scans of real data), and the learned
    merges must chain (a later merge may consume an earlier one's
    symbol; at minimum every merged symbol is 2+ chars and steps
    are 1..5 with non-increasing counts)."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    df = QUERIES["tok_bpe_merges"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan parquet" not in plan, plan  # lineage never re-enters
    assert real_shuffle_exchanges(plan) == [], plan
    rows = sorted(df.collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == [1, 2, 3, 4, 5]
    for r in rows:
        assert r.merged == r.pair_a + r.pair_b and len(r.merged) >= 2
    counts = [r.pair_count for r in rows]
    # merge counts are non-increasing only within symbols untouched
    # by earlier merges; the global invariant is positivity
    assert all(c > 0 for c in counts), counts


def test_unimax_plan_shape(spark, sf_dir):
    """samp_unimax's output plan must read the PINNED language table
    (Scan ExistingRDD — the corpus-scale token count ran once, at
    checkpoint build) joined to ONE broadcast 1-row crossing frame;
    the only shuffle left is the dimension-bounded SinglePartition
    argmin over the N language rows. Both water-filling branches
    must appear in the result (capped tail at exactly 2000 milli-
    epochs, water-filled head below cap)."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    df = QUERIES["samp_unimax"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    ex = real_shuffle_exchanges(plan)
    assert len(ex) == 1 and "SinglePartition" in ex[0], (ex, plan)
    rows = df.collect()
    assert {r.lang for r in rows} >= {"en", "de"}
    capped = [r for r in rows if r.alloc_tokens == r.cap_tokens]
    filled = [r for r in rows if r.alloc_tokens < r.cap_tokens]
    assert capped and filled, rows
    assert all(r.epochs_milli == 2000 for r in capped), capped
    levels = {r.alloc_tokens for r in filled}
    assert len(levels) == 1, rows  # one shared water level
    total = sum(r.alloc_tokens for r in rows)
    budget = sum(r.lang_tokens for r in rows) * 3 // 2
    # integer div loses < N tokens vs the exact budget
    assert 0 <= budget - total < 1000, (total, budget)


def test_hard_negatives_shape(spark, sf_dir):
    """ann_hard_negatives: the pos and neg legs must read the PINNED
    kept frame (Scan ExistingRDD — the corpus was scored and ranked
    exactly once, in the checkpoint build; the is_neg flag lives in
    the window partition key so one window serves both legs), never
    a cartesian. Each anchor emits exactly _HN_NEGS triplet rows
    with ranks 1.._HN_NEGS and margin == pos_cos - neg_cos."""
    from collections import Counter

    from innercircle_etl_spark.plans.similarity_queries import _HN_NEGS

    df = QUERIES["ann_hard_negatives"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    rows = df.collect()
    per_anchor = Counter(r.anchor_id for r in rows)
    assert all(n == _HN_NEGS for n in per_anchor.values()), per_anchor
    for r in rows:
        assert 1 <= r.neg_rank <= _HN_NEGS
        assert r.margin == r.pos_cos - r.neg_cos
        assert r.neg_id != r.pos_id
        assert r.neg_id != r.anchor_id
        assert r.pos_id != r.anchor_id


def test_hard_negatives_ann_recall(spark, sf_dir):
    """ann_hard_negatives_ann: per-(anchor, leg) recall of the
    IVF-candidate mining against the exact kept set. Invariants:
    no cartesian, both legs present per anchor where truth exists,
    the positive leg's truth is exactly 1, the negative leg's at
    most _HN_NEGS, 0 <= n_hits <= n_true, recall == n_hits/n_true;
    and every ANN-kept candidate actually lives in one of its
    anchor's nprobe nearest IVF cells (the candidate-generation
    contract)."""
    from innercircle_etl_spark.plans.similarity_queries import (
        _FIXED_K,
        _HN_ANCHORS,
        _HN_NEGS,
        _IVF_NPROBE,
        _hn_frames,
        _hn_ivf_assign,
        _hn_kept_ann,
    )

    df = QUERIES["ann_hard_negatives_ann"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r.anchor_id < _HN_ANCHORS
        truth_cap = _HN_NEGS if r.is_neg else 1
        assert 1 <= r.n_true <= truth_cap, r
        assert 0 <= r.n_hits <= r.n_true, r
        assert r.recall == r.n_hits / r.n_true, r

    from pyspark.sql import functions as F

    from innercircle_etl_spark.functions import vectors as V

    e, _ = _hn_frames(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < _FIXED_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cell = {
        a.vec_id: a.cid for a in _hn_ivf_assign(e, cent).collect()
    }
    # recompute each anchor's two nearest cells driver-side
    per_anchor: dict[int, list] = {}
    for a in (
        e.filter(F.col("vec_id") < _HN_ANCHORS)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cid", V.cosine(F.col("v"), F.col("cv")).alias("c")
        )
        .collect()
    ):
        per_anchor.setdefault(a.vec_id, []).append((-a.c, a.cid))
    probed = {
        aid: {cid for _, cid in sorted(cands)[:_IVF_NPROBE]}
        for aid, cands in per_anchor.items()
    }
    inline_kept = _hn_kept_ann(spark, sf_dir).collect()
    for k in inline_kept:
        assert cell[k.cand_id] in probed[k.anchor_id], k
    # the amortized path (prebuilt inverted file — what production
    # mines against) must produce the IDENTICAL kept set
    prebuilt = _hn_ivf_assign(e, cent).localCheckpoint(eager=True)
    amortized = _hn_kept_ann(spark, sf_dir, assign=prebuilt).collect()
    key = lambda r: (r.anchor_id, bool(r.is_neg), r.cand_id)  # noqa: E731
    assert sorted(map(key, amortized)) == sorted(map(key, inline_kept))


def test_amortized_batch0_equals_inline(spark, sf_dir):
    """ann_hard_negatives_amortized: the registered production shape
    — ONE pinned inverted file, a sequence of anchor batches. Batch
    0 is ann_hard_negatives_ann's anchor slice, so its recall rows
    must MATCH the inline-index query exactly (index reuse changes
    cost, never results); batch 1's anchors are the next
    _HN_ANCHORS vec_ids (disjoint from batch 0). The plan must
    consume the pinned index (Scan ExistingRDD) and never go
    cartesian; per-row recall invariants as in the inline test."""
    from innercircle_etl_spark.plans.similarity_queries import (
        _HN_ANCHORS,
        _HN_NEGS,
    )

    df = QUERIES["ann_hard_negatives_amortized"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    rows = df.collect()
    assert {r.batch_id for r in rows} == {0, 1}
    for r in rows:
        lo = r.batch_id * _HN_ANCHORS
        assert lo <= r.anchor_id < lo + _HN_ANCHORS, r
        truth_cap = _HN_NEGS if r.is_neg else 1
        assert 1 <= r.n_true <= truth_cap, r
        assert 0 <= r.n_hits <= r.n_true, r
        assert r.recall == r.n_hits / r.n_true, r
    inline = QUERIES["ann_hard_negatives_ann"](spark, sf_dir).collect()

    def key(r):
        return (r.anchor_id, bool(r.is_neg), r.n_hits, r.n_true)

    assert sorted(key(r) for r in rows if r.batch_id == 0) == sorted(
        map(key, inline)
    )


def test_ep13_amortized_batch0_equals_inline(spark, sf_dir):
    """ep13_contrastive_pairs_amortized: one pinned chunk-embedding
    frame + one pinned inverted file, a sequence of anchor-doc
    batches. Batch 0 is ep13_contrastive_pairs_ann's anchor slice,
    so its recall rows must MATCH the inline-index query exactly;
    batch 1's anchors are the next _EP13_ANCHORS docs. The positive
    leg (same-doc equi-join) must be EXACT in every batch — recall
    1.0 wherever truth exists — since it never touches the index;
    plan never cartesian, pinned frames consumed (Scan ExistingRDD)."""
    from innercircle_etl_spark.plans.similarity_queries import (
        _EP13_ANCHORS,
        _EP13_NEGS,
    )

    df = QUERIES["ep13_contrastive_pairs_amortized"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    rows = df.collect()
    assert {r.batch_id for r in rows} == {0, 1}
    for r in rows:
        lo = r.batch_id * _EP13_ANCHORS
        assert lo <= r.anchor_doc < lo + _EP13_ANCHORS, r
        truth_cap = _EP13_NEGS if r.is_neg else 1
        assert 1 <= r.n_true <= truth_cap, r
        assert 0 <= r.n_hits <= r.n_true, r
        assert r.recall == r.n_hits / r.n_true, r
        if not r.is_neg:  # equi-join positives are exact everywhere
            assert r.recall == 1.0, r
    inline = QUERIES["ep13_contrastive_pairs_ann"](spark, sf_dir).collect()

    def key(r):
        return (r.anchor_doc, bool(r.is_neg), r.n_hits, r.n_true)

    assert sorted(key(r) for r in rows if r.batch_id == 0) == sorted(
        map(key, inline)
    )


def test_hn_persisted_equals_pinned(spark, sf_dir):
    """ann_hard_negatives_persisted: the index parquet round-trip
    (round-11 verdict item 2). Persistence changes where the index
    lives, never the kept sets: the full output must match the
    localCheckpoint form row-for-row, both batches. The final DAG
    can't witness the index read (the mining legs are eagerly pinned
    by _mine_pos_neg, so the FileScan is consumed at checkpoint time
    behind the ExistingRDD boundary — the round-8 PLANS.md lesson);
    the witness is the per-batch SCORING leg built from the loaded
    frames, whose plan must read the persisted index path."""
    import os

    from innercircle_etl_spark.plans.similarity_queries import (
        _HN_ANCHORS,
        _hn_anchor_batch,
        _hn_frames,
        _hn_score_ann,
    )

    df = QUERIES["ann_hard_negatives_persisted"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    pinned = QUERIES["ann_hard_negatives_amortized"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, pinned))
    # the artifacts exist on disk, and a batch scored from the LOADED
    # frames reads them as FileScans — what a later session does
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    base = f"{scratch}/hn_ivf_index_{os.path.basename(sf_dir.rstrip('/'))}"
    assert os.path.isdir(f"{base}/assign") and os.path.isdir(
        f"{base}/centroids"
    )
    assign = spark.read.parquet(f"{base}/assign")
    cent = spark.read.parquet(f"{base}/centroids")
    e, _ = _hn_frames(spark, sf_dir)
    leg = _hn_score_ann(assign, cent, _hn_anchor_batch(e, 0, _HN_ANCHORS))
    leg_plan = leg._jdf.queryExecution().executedPlan().toString()
    assert "hn_ivf_index_" in leg_plan, leg_plan
    assert "CartesianProduct" not in leg_plan, leg_plan


def test_ep13_persisted_equals_pinned(spark, sf_dir):
    """ep13_contrastive_pairs_persisted: chunk embeddings, codebook,
    and inverted file all round-trip through parquet; output must
    match the localCheckpoint form row-for-row, both batches; and a
    candidate leg built from the loaded artifacts reads them as
    FileScans (the final DAG hides them behind the _mine_pos_neg
    checkpoint boundary, as in the hn twin)."""
    import os

    from innercircle_etl_spark.plans.similarity_queries import (
        _EP13_ANCHORS,
        _ep13_anchor_batch,
        _ep13_kept_ann,
    )

    df = QUERIES["ep13_contrastive_pairs_persisted"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    pinned = QUERIES["ep13_contrastive_pairs_amortized"](
        spark, sf_dir
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, pinned))
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    base = f"{scratch}/ep13_ivf_index_{os.path.basename(sf_dir.rstrip('/'))}"
    for part in ("chunks", "assign", "centroids"):
        assert os.path.isdir(f"{base}/{part}"), part
    chunks = spark.read.parquet(f"{base}/chunks")
    assign = spark.read.parquet(f"{base}/assign")
    cent = spark.read.parquet(f"{base}/centroids")
    anchors = _ep13_anchor_batch(chunks, 0, _EP13_ANCHORS)
    kept = _ep13_kept_ann(chunks, assign, cent, anchors)
    # _ep13_kept_ann pins its result; witness the scan on the
    # pre-checkpoint lineage via the logical plan of the inputs
    leg_plan = (
        assign.join(cent, assign.cid == cent.cid)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ep13_ivf_index_" in leg_plan, leg_plan
    assert kept.count() > 0


def test_incremental_index_update_equals_full_rebuild(spark, sf_dir):
    """ann_index_incremental_update: assigning ONLY the arriving
    batch against the loaded codebook and merging into the persisted
    file must reproduce a from-scratch full-corpus assignment
    EXACTLY (fixed codebook -> per-row argmax independent of arrival
    order) — the property that licenses daily O(batch) appends over
    daily corpus-pass rebuilds. Compared against an in-session full
    rebuild's manifest; the merged file must also contain every
    corpus row exactly once (no batch row lost or doubled by the
    swap-while-reading write)."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _hn_centroids,
        _hn_frames,
        _hn_ivf_assign,
    )

    df = QUERIES["ann_index_incremental_update"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = {r.cid: (r.n_vectors, r.min_vec_id, r.avg_cos) for r in df.collect()}
    e, _ = _hn_frames(spark, sf_dir)
    full = _hn_ivf_assign(e, _hn_centroids(e))
    rebuilt = {
        r.cid: (r.n_vectors, r.min_vec_id)
        for r in full.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .collect()
    }
    assert {c: v[:2] for c, v in rows.items()} == rebuilt
    assert sum(v[0] for v in rows.values()) == e.count()
    assert all(-1.0 <= v[2] <= 1.0 for v in rows.values())


def test_hn_cellpart_prunes_partitions(spark, sf_dir):
    """ann_hard_negatives_cellpart (round-12 verdict item 2): the
    inverted file written partitionBy("cid") and mined with the
    probed cid set pushed as a PARTITION filter. Two claims: (1) the
    layout never changes results — full output row-identical to the
    flat persisted form (and hence to the pinned amortized form its
    test pins); (2) the pruning is REAL — a batch's scoring leg
    built from the loaded artifacts shows PartitionFilters [cid IN
    (...)] on the FileScan (the cellpart analog of the loaded-index
    FileScan witness in test_hn_persisted_equals_pinned; the final
    DAG hides the scan behind the _mine_pos_neg checkpoint), and the
    partition column is dir-encoded, not in ReadSchema."""
    import os

    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _HN_ANCHORS,
        _hn_anchor_batch,
        _hn_frames,
        _ivf_probes,
    )

    df = QUERIES["ann_hard_negatives_cellpart"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    flat = QUERIES["ann_hard_negatives_persisted"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, flat))
    # the artifact is hive-partitioned by cell on disk
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    base = f"{scratch}/hn_ivf_cellpart_{os.path.basename(sf_dir.rstrip('/'))}"
    cells = [
        d for d in os.listdir(f"{base}/assign") if d.startswith("cid=")
    ]
    assert len(cells) > 1, cells
    # what a later session does: load, probe, push the cid set
    assign = spark.read.parquet(f"{base}/assign")
    cent = spark.read.parquet(f"{base}/centroids")
    e, _ = _hn_frames(spark, sf_dir)
    # a 4-anchor probe batch for the witness: at fixture scale a full
    # _HN_ANCHORS x nprobe batch can touch every one of the 32 cells
    # (pruning fraction is batch*nprobe/k — real k is thousands); the
    # witness only needs a cid set strictly smaller than the cell
    # count so the PartitionFilters assert proves selective pruning
    assert _HN_ANCHORS >= 4
    probes = _ivf_probes(
        _hn_anchor_batch(e, 0, 4),
        cent,
        "anchor_id",
        ("anchor_label", "va"),
    )
    cids = sorted(r.pcid for r in probes.select("pcid").distinct().collect())
    assert 0 < len(cids) < len(cells)  # probes really prune
    leg = assign.filter(F.col("cid").isin(cids))
    leg_plan = leg._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", leg_plan)
    assert m and "cid" in m.group(1) and "IN" in m.group(1), leg_plan
    rs = re.search(r"ReadSchema: (\S+)", leg_plan)
    assert rs and "cid" not in rs.group(1), leg_plan
    # the pruned read returns exactly the probed cells' rows (each
    # cell dir read directly, bypassing the partition filter)
    per_cell = sum(
        spark.read.parquet(f"{base}/assign/cid={c}").count() for c in cids
    )
    assert leg.count() == per_cell > 0


def _cell_files(apath: str, cell: str):
    """(name, inode, mtime, size) of every file in one cell dir — the
    byte-identity witness of an untouched cell."""
    import os

    d = os.path.join(apath, cell)
    return sorted(
        (f, os.stat(os.path.join(d, f)).st_ino,
         os.stat(os.path.join(d, f)).st_mtime_ns,
         os.stat(os.path.join(d, f)).st_size)
        for f in os.listdir(d)
    )


def test_cellpart_update_touches_only_batch_cells(spark, sf_dir, tmp_path):
    """ann_index_cellpart_update: partition-grain maintenance must
    be O(touched cells) PHYSICALLY — after the core's append, every
    cell dir the batch did not land in holds byte-identical files
    (same names, inodes, mtimes, sizes: never rewritten, never
    renamed), the touched set is a strict subset of the cells, the
    core's touched-cell read is partition-pruned, and the merged
    table's manifest equals an in-session full rebuild's."""
    import os

    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _CELLINC_MOD,
        _CELLINC_REM,
        _CellStore,
        _append,
        _cids,
        _hn_centroids,
        _hn_ivf_assign,
        _index_manifest,
    )

    e, store = _CellStore.open(spark, sf_dir, str(tmp_path))
    is_batch = F.col("vec_id") % _CELLINC_MOD == _CELLINC_REM
    store.build(e.filter(~is_batch))
    apath = store.table

    cells = sorted(
        d for d in os.listdir(apath) if d.startswith("cid=")
    )
    before = {c: _cell_files(apath, c) for c in cells}

    touched = _cids(_hn_ivf_assign(e.filter(is_batch), store.cent))
    assert 0 < len(touched) < len(cells), (touched, len(cells))
    # the maintenance read is pruned like the serving read
    lp = store.read_cells(touched)._jdf.queryExecution().executedPlan()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", lp.toString())
    assert m and "cid" in m.group(1), lp.toString()
    _append(store, e.filter(is_batch), "witness")

    touched_dirs = {f"cid={c}" for c in touched}
    for c in cells:
        if c in touched_dirs:
            assert _cell_files(apath, c) != before[c], (
                f"{c} should have changed"
            )
        else:
            assert _cell_files(apath, c) == before[c], f"{c} was rewritten"
    # no hidden staging/old residue, and the merge equals a rebuild
    assert not [
        d for d in os.listdir(apath) if d.startswith((".staging", ".old"))
    ]
    got = {
        r.cid: (r.n_vectors, r.min_vec_id)
        for r in _index_manifest(store.live(), store.cent).collect()
    }
    cent_built = _hn_centroids(e)
    full = {
        r.cid: (r.n_vectors, r.min_vec_id)
        for r in _index_manifest(
            _hn_ivf_assign(e, cent_built), cent_built
        ).collect()
    }
    assert got == full


def test_cellpart_compact_defragments_only_fragmented_cells(
    spark, sf_dir, tmp_path
):
    """ann_index_cellpart_compact: the core's partition-grain append
    must actually fragment its touched cells (multiple parquet files
    — otherwise the compaction op witnesses nothing), the core's
    compact must rewrite EVERY fragmented cell to exactly one file
    while leaving unfragmented cells' files byte-identical, and the
    manifest must be unchanged by compaction (layout, never
    content)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _CELLINC_MOD,
        _CELLINC_REM,
        _CellStore,
        _append,
        _compact,
        _index_manifest,
    )

    e, store = _CellStore.open(spark, sf_dir, str(tmp_path))
    is_batch = F.col("vec_id") % _CELLINC_MOD == _CELLINC_REM
    store.build(e.filter(~is_batch), compact=True)
    apath = store.table
    _append(store, e.filter(is_batch), "append")

    def files(cell_dir):
        return sorted(glob.glob(f"{cell_dir}/*.parquet"))

    cells = sorted(glob.glob(f"{apath}/cid=*"))
    frag = [d for d in cells if len(files(d)) > 1]
    intact = [d for d in cells if len(files(d)) == 1]
    assert frag, "append did not fragment any cell — witness is dead"
    assert intact, "every cell fragmented — untouched witness is dead"
    intact_stats = {
        d: [(f, os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files(d)]
        for d in intact
    }
    manifest_before = sorted(
        map(tuple, _index_manifest(store.live(), store.cent).collect())
    )

    _compact(store, "compact")

    for d in frag:
        assert len(files(d)) == 1, (d, files(d))
    for d in intact:
        assert intact_stats[d] == [
            (f, os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files(d)
        ], f"{d} was rewritten by compaction"
    manifest_after = sorted(
        map(tuple, _index_manifest(store.live(), store.cent).collect())
    )
    assert manifest_after == manifest_before


def test_ivf_assign_spreads_before_expansion(spark, sf_dir):
    """_ivf_assign must repartition the corpus across cores BEFORE
    the |codebook|x cosine expansion (its largest map stage): a
    pinned or small-file upstream otherwise leaves the expansion at
    1-2 splits (round-10 A/B at sf10: 12.6 s unspread vs 1.3 s
    spread, warm). The exchange must sit between the corpus source
    and the broadcast-argmax aggregate."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.functions import vectors as V
    from innercircle_etl_spark.plans.registry import load
    from innercircle_etl_spark.plans.similarity_queries import (
        _ivf_assign,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    df = _ivf_assign(e, cent, ["vec_id"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    # the REPARTITION_BY_NUM exchange is the spread (explicit
    # numPartitions + keys); it must execute upstream of (deeper
    # than) the BroadcastNestedLoopJoin expansion
    join_at = plan.find("BroadcastNestedLoopJoin")
    spread_at = plan.find("REPARTITION_BY_NUM")
    assert join_at != -1 and spread_at != -1, plan
    assert spread_at > join_at, plan  # deeper in the tree = later in toString


def test_ep13_ann_recall(spark, sf_dir):
    """ep13_contrastive_pairs_ann: per-(anchor, leg) recall of the
    union candidate set (same-doc positives + IVF-cell negatives)
    against the exact kept set. Invariants: no cartesian, truth caps
    per leg, recall identities — and the POSITIVE leg's recall is
    exactly 1.0 by construction (the exact positive partition
    contains only same-doc rows, and the same-doc equi-join feeds
    every one of them to the identical ranking)."""
    from innercircle_etl_spark.plans.similarity_queries import (
        _EP13_ANCHORS,
        _EP13_NEGS,
    )

    df = QUERIES["ep13_contrastive_pairs_ann"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r.anchor_doc < _EP13_ANCHORS
        truth_cap = _EP13_NEGS if r.is_neg else 1
        assert 1 <= r.n_true <= truth_cap, r
        assert 0 <= r.n_hits <= r.n_true, r
        assert r.recall == r.n_hits / r.n_true, r
        if not r.is_neg:
            assert r.recall == 1.0, r


def test_bpe_compression_curve(spark, sf_dir):
    """tok_bpe_compression: output = union of 6 pinned 1-row frames
    (zero exchanges in the output plan), step 0 is the character
    baseline with NULL merged, and every merge STRICTLY shrinks the
    corpus token count (the definitional property of a BPE merge:
    the argmax pair occurs at least once)."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    df = QUERIES["tok_bpe_compression"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert real_shuffle_exchanges(plan) == [], plan
    rows = sorted(df.collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == [0, 1, 2, 3, 4, 5]
    assert rows[0].merged is None
    assert all(r.merged for r in rows[1:])
    toks = [r.corpus_tokens for r in rows]
    assert all(a > b for a, b in zip(toks, toks[1:])), toks


def test_apply_vocab_broadcast_lookup(spark, sf_dir):
    """tok_apply_vocab: tokenization must be a BROADCAST dictionary
    lookup (vocab-bounded map side — never a shuffle of the corpus
    on the word key) feeding ONE doc-keyed aggregation shuffle; the
    vocab side reads the pinned trained word table. Compression must
    be genuine: every doc's BPE token count is strictly under its
    character count (5 merges guarantee at least one fused pair
    somewhere, and chars >= tokens always)."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    df = QUERIES["tok_apply_vocab"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    ex = real_shuffle_exchanges(plan)
    assert len(ex) == 1 and "hashpartitioning(doc_id" in ex[0], (ex, plan)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_tokens_bpe <= r.n_chars_alpha, r
        assert r.compression_milli >= 1000, r


def test_contrastive_pairs_shape(spark, sf_dir):
    """ep13_contrastive_pairs: the pos/neg legs read the PINNED kept
    frame (one scoring pass, one ranking shuffle — the
    ann_hard_negatives shape over the chunk-embedding builders);
    positives are co-document crops, negatives cross-document, and
    margins are exact pos-neg differences."""
    from collections import Counter

    from innercircle_etl_spark.plans.similarity_queries import _EP13_NEGS

    df = QUERIES["ep13_contrastive_pairs"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    rows = df.collect()
    assert rows
    per_anchor = Counter(r.anchor_doc for r in rows)
    assert all(n <= _EP13_NEGS for n in per_anchor.values()), per_anchor
    for r in rows:
        assert r.neg_doc != r.anchor_doc, r  # negatives cross-document
        assert r.margin == r.pos_cos - r.neg_cos, r


def test_bottomk_is_take_ordered(spark, sf_dir):
    """samp_bottomk_fixed must compile to TakeOrderedAndProject
    (per-partition k-heaps + k-row merge — the mergeable bottom-k
    sketch shape), never a global sort, and return exactly k rows
    with a contiguous 1..k rank."""
    from innercircle_etl_spark.plans.sampling_queries import _BOTTOMK

    df = QUERIES["samp_bottomk_fixed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    rows = df.collect()
    assert sorted(r.sample_rank for r in rows) == list(
        range(1, _BOTTOMK + 1)
    )


def test_multimodal_pairs_verdicts(spark, sf_dir):
    """ep14_multimodal_pairs: exactly one verdict per pair, dups are
    genuinely non-canonical (every image_dup doc has a smaller-id
    phash partner), and the verdict join reads the PINNED dup-id set
    (one phash execution). Blobs never appear in the output plan."""
    from collections import Counter

    df = QUERIES["ep14_multimodal_pairs"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    rows = df.collect()
    assert rows
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), "a pair got two verdicts"
    verdicts = Counter(r.verdict for r in rows)
    assert set(verdicts) <= {"image_dup", "bad_caption", "paired"}
    assert verdicts["image_dup"] and verdicts["paired"], verdicts
    pair_rows = QUERIES["mm_dedup_phash"](spark, sf_dir).collect()
    dup_ids = {r.doc_b for r in pair_rows}
    for r in rows:
        assert (r.verdict == "image_dup") == (r.doc_id in dup_ids), r


def test_salted_topk_two_phase(spark, sf_dir):
    """_salted_topk_rank (used by ann_hard_negatives and ep13) must
    produce the two-phase shape: one exchange keyed (group, __salt)
    that does the corpus-sized sort in _TOPK_SALT-way parallel
    buckets, then one keyed (group) that ranks only the <= S*k
    survivors — and its result must equal the naive single-window
    top-k exactly (salt never reaches values)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from innercircle_etl_spark.functions import vectors as V
    from innercircle_etl_spark.plans.registry import load
    from innercircle_etl_spark.plans.similarity_queries import (
        _HN_ANCHORS,
        _salted_topk_rank,
    )

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    anchors = e.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), F.col("v").alias("va")
    )
    scored = e.join(
        F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id")
    ).select(
        "anchor_id",
        F.col("vec_id").alias("cand_id"),
        V.cosine(F.col("va"), F.col("v")).alias("cos"),
    )
    order = [F.col("cos").desc(), F.col("cand_id").asc()]
    salted = _salted_topk_rank(scored, ["anchor_id"], order, 3)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert any("__salt" in ln for ln in exchanges), plan
    assert any(
        "anchor_id" in ln and "__salt" not in ln for ln in exchanges
    ), plan
    w = Window.partitionBy("anchor_id").orderBy(*order)
    naive = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )
    got = sorted(
        (r.anchor_id, r.rank, r.cand_id, r.cos) for r in salted.collect()
    )
    want = sorted(
        (r.anchor_id, r.rank, r.cand_id, r.cos) for r in naive.collect()
    )
    assert got == want


def test_ewma_single_shuffle_fold(spark, sf_dir):
    """w13_ewma: ONE user-keyed shuffle, the fold is codegen'd
    column work (no window, no join, no Python UDF), and the fold
    semantics hold: a single-event user's ewma IS that value, and
    every ewma lies within its user's [min, max] value range."""
    from innercircle_etl_spark.plan_text import real_shuffle_exchanges

    plan = plan_of(spark, sf_dir, "w13_ewma")
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ex = real_shuffle_exchanges(plan)
    assert len(ex) == 1 and "hashpartitioning(user_id" in ex[0], ex
    df = QUERIES["w13_ewma"](spark, sf_dir)
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.registry import load
    ev = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bad = (
        df.join(ev, "user_id")
        .filter((F.col("ewma") < F.col("lo")) | (F.col("ewma") > F.col("hi")))
        .count()
    )
    assert bad == 0


def test_triangles_oriented_wedges(spark, sf_dir):
    """graph_triangles: the wedge and closing joins are equi-joins
    (never cartesian), the pinned edge/orientation frames are built
    once (Scan ExistingRDD), and the counts satisfy the graph
    identities: 3*triangles <= wedges and closure_ppm matches the
    integer formula."""
    df = QUERIES["graph_triangles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    r = df.collect()[0]
    assert r.n_nodes > 0 and r.n_edges > 0 and r.n_triangles > 0
    assert 3 * r.n_triangles <= r.n_wedges
    assert r.closure_ppm == 3 * r.n_triangles * 1000000 // r.n_wedges


def test_triangles_sampled_estimator(spark, sf_dir, duck):
    """graph_triangles_sampled: same no-cartesian/pinned-edge plan
    discipline as the exact form; the deterministic md5-slice edge
    sample picks the IDENTICAL subset in both engines (the
    cross-engine hash-exactness hinges on it); the estimate is the
    sampled count scaled by exactly p_inv^3; and the accuracy
    contract the query claims (within 25% of exact) actually holds
    on this fixture against the exact query's count."""
    from innercircle_etl_spark.plans.graph_queries import (
        _TRI_BOUND_PCT,
        _TRI_P_INV,
        TRI_SAMPLE_HASH_SPARK,
    )

    df = QUERIES["graph_triangles_sampled"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    r = df.collect()[0]
    assert r.p_inv == _TRI_P_INV
    assert r.est_edges == r.n_sampled_edges * _TRI_P_INV
    assert r.est_triangles == r.n_sampled_triangles * _TRI_P_INV**3
    assert r.claimed_within_bound is True
    exact = QUERIES["graph_triangles"](spark, sf_dir).collect()[0]
    assert (
        abs(r.est_triangles - exact.n_triangles) * 100
        <= _TRI_BOUND_PCT * exact.n_triangles
    )
    # engine parity of the sampling hash, on real edge keys
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.graph_queries import (
        _part_cooccur_edges,
    )

    some = (
        _part_cooccur_edges(spark, sf_dir)
        .limit(50)
        .withColumn(
            "keep",
            F.expr(TRI_SAMPLE_HASH_SPARK) % _TRI_P_INV == 0,
        )
        .collect()
    )
    for row in some:
        duck_keep = duck.execute(
            "SELECT (('0x' || substr(md5(?::BIGINT::VARCHAR || '|' ||"
            f" ?::BIGINT::VARCHAR), 1, 7))::BIGINT % {_TRI_P_INV}) = 0",
            [row.u, row.v],
        ).fetchone()[0]
        assert duck_keep == row.keep, (row.u, row.v)


def test_referential_audit_broadcasts_dims(spark, sf_dir):
    """q5_referential_integrity: each FK audit leg left-joins the
    parent's DISTINCT key set (un-hinted — AQE broadcasts the small
    ones at this scale; a fact-scaled parent may shuffle-join at
    100 TB) + one conditional count; zero orphans on the intact
    fixture. Collect first: AQE finalizes join strategies only on
    execution."""
    df = QUERIES["q5_referential_integrity"](spark, sf_dir)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan  # AQE, sf<=0.1
    assert len(rows) == 5
    assert all(r.n_orphans == 0 for r in rows), rows
    assert all(r.n_child > 0 for r in rows), rows


def test_cellpart_delete_touches_only_kill_cells(spark, sf_dir, tmp_path):
    """ann_index_cellpart_delete: the core's delete verb must be
    O(touched cells) PHYSICALLY — cells holding no kill are
    byte-identical after the delete (names, inodes, mtimes, sizes),
    the purged cell's dir is GONE (dropped without ever being read),
    the core's touched-cell read is partition-pruned, no hidden
    residue remains, and the final manifest equals an in-session
    rebuild from the survivors."""
    import os

    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _DEL_CELL,
        _DEL_MOD,
        _DEL_REM,
        _CellStore,
        _cids,
        _delete,
        _hn_centroids,
        _hn_ivf_assign,
        _index_manifest,
    )

    e, store = _CellStore.open(spark, sf_dir, str(tmp_path))
    store.build(e)
    apath = store.table

    cells = sorted(d for d in os.listdir(apath) if d.startswith("cid="))
    before = {c: _cell_files(apath, c) for c in cells}
    rows_before = store.live().count()

    is_kill = F.col("vec_id") % _DEL_MOD == _DEL_REM
    kill = e.filter(is_kill)
    n_killed_ids = kill.count()
    id_cells = _cids(_hn_ivf_assign(kill, store.cent))
    rewrite_cells = [c for c in id_cells if c != _DEL_CELL]
    assert 0 < len(rewrite_cells) < len(cells) - 1
    # the survivor read is pruned like the serving read
    sp = store.read_cells(rewrite_cells)._jdf.queryExecution().executedPlan()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", sp.toString())
    assert m and "cid" in m.group(1), sp.toString()
    _delete(store, kill, "witness_del", purge=(_DEL_CELL,))
    kept_cells = [
        c for c in rewrite_cells if os.path.isdir(f"{apath}/cid={c}")
    ]
    assert kept_cells  # fixture cells never empty from the id kill

    # purged cell: GONE, without its rows ever being read
    assert not os.path.exists(os.path.join(apath, f"cid={_DEL_CELL}"))
    touched_dirs = {f"cid={c}" for c in rewrite_cells}
    for c in cells:
        if c == f"cid={_DEL_CELL}":
            continue
        if c in touched_dirs:
            assert _cell_files(apath, c) != before[c], (
                f"{c} should have changed"
            )
        else:
            assert _cell_files(apath, c) == before[c], f"{c} was rewritten"
    assert not [
        d
        for d in os.listdir(apath)
        if d.startswith((".staging", ".old", ".drop"))
    ]

    final = store.live()
    got = {
        r.cid: (r.n_vectors, r.min_vec_id)
        for r in _index_manifest(final, store.cent).collect()
    }
    cent_built = _hn_centroids(e)
    rebuilt = _hn_ivf_assign(e.filter(~is_kill), cent_built).filter(
        F.col("cid") != _DEL_CELL
    )
    full = {
        r.cid: (r.n_vectors, r.min_vec_id)
        for r in _index_manifest(rebuilt, cent_built).collect()
    }
    assert got == full
    assert _DEL_CELL not in got
    assert final.count() < rows_before - n_killed_ids + 1


def test_cellpart_delete_composes_with_compaction(spark, sf_dir, tmp_path):
    """DELETE then COMPACT on one store — the maintenance sequence a
    long-lived index actually runs: the delete's survivor rewrite may
    fragment its touched cells; the core's compact must rewrite
    exactly the fragmented cells to one file each, leave every other
    cell's files byte-identical, and leave the manifest unchanged —
    still equal to the rebuild-from-survivors, because compaction
    changes layout, never content."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans.similarity_queries import (
        _DEL_CELL,
        _DEL_MOD,
        _DEL_REM,
        _CellStore,
        _compact,
        _index_manifest,
        _kill,
    )

    # compact day-0 layout (one file per cell), like the compact query
    e, store = _CellStore.open(spark, sf_dir, str(tmp_path))
    store.build(e, compact=True)
    apath = store.table

    # the delete: the core's kill pipeline and apply, with the
    # survivor rewrite written through MANY tasks (round-robin
    # repartition) so each touched cell lands as several files — the
    # layout a parallel production rewrite of a large cell produces;
    # at fixture scale one single-file cell is one read split, so a
    # plain delete writes one file per cell and leaves the compaction
    # with nothing to witness
    survivors, dropped, _ = _kill(
        store,
        e.filter(F.col("vec_id") % _DEL_MOD == _DEL_REM),
        purge=(_DEL_CELL,),
    )
    store.apply(survivors.repartition(8), dropped, "del")

    def manifest():
        return {
            r.cid: (r.n_vectors, r.min_vec_id, round(r.avg_cos, 9))
            for r in _index_manifest(store.live(), store.cent).collect()
        }

    def snapshot(cell):
        return [f[:3] for f in _cell_files(apath, cell)]

    before_manifest = manifest()
    frag = sorted(
        int(os.path.basename(d).split("=", 1)[1])
        for d in _glob.glob(f"{apath}/cid=*")
        if len(_glob.glob(f"{d}/*.parquet")) > 1
    )
    assert frag, "delete rewrite must fragment cells for this witness"
    unfrag_dirs = [
        os.path.basename(d)
        for d in _glob.glob(f"{apath}/cid=*")
        if int(os.path.basename(d).split("=", 1)[1]) not in frag
    ]
    before_files = {c: snapshot(c) for c in unfrag_dirs}

    _compact(store, "compact")

    for c in frag:
        files = _glob.glob(f"{apath}/cid={c}/*.parquet")
        assert len(files) == 1, f"cid={c} not compacted: {files}"
    for c in unfrag_dirs:
        assert snapshot(c) == before_files[c], f"{c} was rewritten"
    assert manifest() == before_manifest
    assert _DEL_CELL not in before_manifest


_KEEP_ALL = "TRUE"
_KEEP_ID = "NOT (vec_id % 100 = 7)"  # the residue-class kill-list
_KEEP_ID_CELL = f"{_KEEP_ID} AND cid != 13"  # plus the cell purge


_MAINTAINED = [  # (builder, index dir, versioned?, surviving rows)
    ("ann_index_incremental_update", "hn_ivf_inc", False, _KEEP_ALL),
    ("ann_index_cellpart_update", "hn_ivf_cellinc", False, _KEEP_ALL),
    ("ann_index_versioned_update", "hn_ivf_versioned", True, _KEEP_ALL),
    (
        "ann_index_versioned_cellpart_update",
        "hn_ivf_vcellpart",
        True,
        _KEEP_ALL,
    ),
    ("ann_index_cellpart_compact", "hn_ivf_cellcomp", False, _KEEP_ALL),
    ("ann_index_cellpart_delete", "hn_ivf_celldel", False, _KEEP_ID_CELL),
    ("ann_index_versioned_delete", "hn_ivf_vdel", True, _KEEP_ID_CELL),
    ("ann_index_versioned_compact", "hn_ivf_vcomp", True, _KEEP_ALL),
    ("ann_index_stream_update", "stream_annidx/idx", False, _KEEP_ALL),
    ("ann_index_stream_delete", "stream_anndel/idx", False, _KEEP_ID),
]


@pytest.mark.parametrize(
    "name,index_dir,versioned,survives",
    _MAINTAINED,
    ids=[m[0] for m in _MAINTAINED],
)
def test_maintained_index_rows_equal_rebuild(
    spark, sf_dir, name, index_dir, versioned, survives
):
    """Every index-maintenance builder leaves behind an index table
    equal, row for row on (vec_id, label, v, cid), to the full
    single-pass rebuild of its surviving rows. The registered oracle
    is the per-cell manifest (cid, n_vectors, min_vec_id, avg_cos),
    which never reads ``label`` — a maintenance step that corrupted
    labels, or swapped payloads between rows of one cell, would pass
    it; this compares the stored rows themselves."""
    from innercircle_etl_spark.operators.versioned_table import read_current
    from innercircle_etl_spark.plans.registry import scratch_dir
    from innercircle_etl_spark.plans.similarity_queries import (
        _hn_centroids,
        _hn_frames,
        _hn_ivf_assign,
    )

    QUERIES[name](spark, sf_dir).collect()
    top, _, sub = index_dir.partition("/")
    table = "/".join(filter(None, [scratch_dir(top, sf_dir), sub, "assign"]))
    stored = read_current(spark, table) if versioned else (
        spark.read.parquet(table)
    )
    e, _ = _hn_frames(spark, sf_dir)
    rebuilt = _hn_ivf_assign(e, _hn_centroids(e)).filter(survives)

    def rows(df):
        return sorted(
            (r.vec_id, r.label, tuple(r.v), int(r.cid))
            for r in df.select("vec_id", "label", "v", "cid").collect()
        )

    got, want = rows(stored), rows(rebuilt)
    assert len(got) == len(want) > 0
    assert got == want


def test_versioned_cellpart_serving_prunes_at_the_scan(spark, sf_dir):
    """The two index disciplines COMPOSE: a version published
    ``partition_by="cid"`` through the reader-atomic pointer table
    serves pruned reads — the probed cid set lands as a
    PartitionFilters entry on the FileScan of the CURRENT version's
    dir, and a republish retains the previous version so an
    in-flight pruned reader keeps a complete dir under its feet.
    This is the full production layout (reader-atomic + O(probed
    cells) serving) pinned without a registry row: both halves are
    already oracle-proven separately (ann_index_versioned_update /
    ann_hard_negatives_cellpart); this witnesses their
    composition."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from innercircle_etl_spark.operators.versioned_table import (
        current_path,
        publish_version,
        read_current,
        read_version,
    )
    from innercircle_etl_spark.plans.similarity_queries import (
        _hn_centroids,
        _hn_frames,
        _hn_ivf_assign,
    )

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    table = f"{scratch}/test_versioned_cellpart"
    shutil.rmtree(table, ignore_errors=True)
    e, _ = _hn_frames(spark, sf_dir)
    cent = _hn_centroids(e)
    publish_version(
        _hn_ivf_assign(e, cent), table, "day0", partition_by="cid"
    )
    # the version dir is hive-partitioned on cid
    vdir = current_path(table)
    assert any(
        d.startswith("cid=") for d in os.listdir(vdir)
    ), os.listdir(vdir)
    # a probed-cid serving read through the pointer prunes at the scan
    probe = read_current(spark, table).filter(F.col("cid").isin([1, 5]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    n_before = probe.count()
    assert n_before > 0
    # republish (day1 adds nothing — same content, new tag): the
    # in-flight day0 pruned reader still resolves a complete dir
    in_flight = read_version(spark, table, "day0").filter(
        F.col("cid").isin([1, 5])
    )
    publish_version(
        _hn_ivf_assign(e, cent), table, "day1", partition_by="cid"
    )
    assert in_flight.count() == n_before  # retained dir, intact
    assert read_current(spark, table).filter(
        F.col("cid").isin([1, 5])
    ).count() == n_before


def test_j11_topk_leg_witnesses_rows_scalably(spark, sf_dir):
    """Round-16: j11's output is threshold pairs UNION the global
    top-100 by (jaccard DESC, supp_a, supp_b). Two pins: (1) the
    top-K leg compiles to TakeOrderedAndProject — never the
    single-partition global window that would collapse 50M scored
    pairs onto one task at sf10; (2) on a fixture whose max jaccard
    sits UNDER the 0.17 threshold (the synthesized sf1/sf10 shape),
    the result is still exactly the top-K — the expensive sweep row
    proves rows, not just wall."""
    df = QUERIES["j11_pairs_jaccard"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    rows = df.collect()
    assert len(rows) > 0
    # supp_a < supp_b by construction (sorted owner arrays)
    assert all(r.supp_a < r.supp_b for r in rows)
    # every threshold survivor is present, and if nothing reaches
    # the threshold the top-K leg still witnesses (sf_dir fixtures
    # DO reach it — the guarantee under test is the union shape:
    # thresh rows + top-100 minus overlap)
    n_thresh = sum(1 for r in rows if r.jaccard >= 0.17)
    assert len(rows) >= min(100, len(rows)) and n_thresh <= len(rows)
