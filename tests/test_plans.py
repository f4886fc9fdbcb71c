"""Plan-shape tests: the 100 TB contract, pinned in CI.

These assert properties of the PHYSICAL plan — predicate pushdown, column
pruning, broadcast choices, absence of cartesian products, hash (not sort)
aggregation — which hold independent of data scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.operators import relational, tpch
from realtime_change_data_capture_streaming_spark.cdc.apply_changes import latest_per_key
from realtime_change_data_capture_streaming_spark.cdc.queries import cdc_apply_changes
from realtime_change_data_capture_streaming_spark.llm_ops.dedup import ngram_jaccard_pairs
from realtime_change_data_capture_streaming_spark.llm_ops.similarity import ann_cosine_topk
from realtime_change_data_capture_streaming_spark.plans import (
    assert_no_cartesian,
    broadcast_join_count,
    has_pushed_filters,
    plan_counts,
)
from realtime_change_data_capture_streaming_spark.plans.introspect import read_schema_columns


def test_q6_filters_pushed_and_columns_pruned(spark, sf_dir):
    df = tpch.q6_revenue_forecast(spark, sf_dir)
    assert has_pushed_filters(df), "Q6 predicates must reach the parquet scan"
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) <= {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }, f"Q6 must scan only needed columns, got {cols}"


def test_q3_broadcasts_dimension(spark, sf_dir):
    df = tpch.q3_shipping_priority(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, "filtered customer dim must broadcast"
    assert_no_cartesian(df)


def test_q5_star_join_shape(spark, sf_dir):
    df = tpch.q5_local_supplier(spark, sf_dir)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 3, f"dims must broadcast: {c}"
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0
    # lineitem⋈orders is the only shuffle join allowed
    assert c["sort_merge_joins"] + c["shuffled_hash_joins"] <= 1, c


def test_asof_join_single_shuffle_no_range_explosion(spark, sf_dir):
    """join_asof must plan as union + window (each row touched once, one
    hash exchange on the key), never as a range join — a theta join's
    per-key candidate explosion is O(n·m) at 100 TB."""
    from realtime_change_data_capture_streaming_spark.operators.asof import events_asof_view_before_purchase

    df = events_asof_view_before_purchase(spark, sf_dir)
    c = plan_counts(df)
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0, c
    assert (
        c["sort_merge_joins"] + c["shuffled_hash_joins"] + c["broadcast_joins"] == 0
    ), f"as-of must not plan any join operator: {c}"
    assert c["exchanges"] <= 2, c  # one hash exchange per input branch max


def test_apply_changes_partial_aggregates_no_window(spark):
    """latest_per_key must plan as an AGGREGATE with map-side combine
    (partial_max_by before the exchange), never a row_number window — the
    difference between shuffling one row per key per partition and
    shuffling every event at 100 TB.  (max_by over a struct buffer plans
    as SortAggregate, which still carries the partial phase.)"""
    events = spark.createDataFrame(
        [("k1", "c", 1, 1), ("k1", "u", 2, 2)], "key string, op string, lsn long, ts_ms long"
    )
    from realtime_change_data_capture_streaming_spark.plans import executed_plan

    plan = executed_plan(latest_per_key(events))
    assert "partial_max_by" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]


def test_jaccard_no_cartesian_single_scan_shuffles(spark, sf_dir):
    df = ngram_jaccard_pairs(spark, sf_dir)
    assert_no_cartesian(df)


def test_embeddings_vec_id_unique_pk(spark, sf_dir):
    """PK pin for the ANN plan-visibility trick: every
    `.filter(vec_id < N).limit(N)` in similarity.py is a semantic no-op
    ONLY if vec_id is unique (duplicates + LIMIT without ORDER BY would
    nondeterministically drop query rows).  Enforce the assumption."""
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    total, distinct = e.select(
        F.count("*").alias("n"), F.countDistinct("vec_id").alias("d")
    ).first()
    assert total == distinct, f"embeddings.vec_id not unique: {total} rows, {distinct} ids"


def test_ann_broadcasts_query_side(spark, sf_dir):
    df = ann_cosine_topk(spark, sf_dir)
    c = plan_counts(df)
    # query vectors broadcast -> nested-loop with broadcast is fine (it IS
    # the brute-force score); what must not happen is a shuffle cartesian
    assert c["cartesian"] == 0, c


def test_cdc_pipeline_stays_jvm_side(spark, sf_dir):
    """The entire CDC parse+apply path must contain no Python evaluation."""
    df = cdc_apply_changes(spark, sf_dir)
    c = plan_counts(df)
    assert c["python_evals"] == 0, f"CDC path must be UDF-free: {c}"
    from realtime_change_data_capture_streaming_spark.plans import executed_plan

    assert "partial_max_by" in executed_plan(df)  # map-side combine active


def test_scan_with_limit_plans_global_limit(spark, sf_dir):
    from realtime_change_data_capture_streaming_spark.sources.tables import scan_with_limit

    df = scan_with_limit(spark, sf_dir, "lineitem", 50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan or "CollectLimit" in plan


def test_semi_join_prunes_probe_columns(spark, sf_dir):
    df = relational.join_semi(spark, sf_dir)
    cols = read_schema_columns(df)
    # orders scan must read only the join key + filter columns
    for colset in cols:
        if any(c.startswith("o_") for c in colset):
            assert set(colset) <= {"o_custkey", "o_orderstatus", "o_orderpriority"}, colset


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-located bucketed join: zero shuffles before the join (the final
    aggregate may still exchange on its own key)."""
    from realtime_change_data_capture_streaming_spark.plans.bucketing import create_bucketed_tables
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    li_name, o_name = create_bucketed_tables(spark, sf_dir)
    from pyspark.sql import functions as F

    li, o = spark.table(li_name), spark.table(o_name)
    joined = li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "o_orderstatus", "l_quantity"
    )
    plan = executed_plan(joined)
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:2000]}"


def test_pack_shards_no_global_sort(spark, sf_dir):
    """Shard packing must stay per-stratum: a window keyed on lang hash-
    partitions; a global ORDER BY (rangepartitioning) would funnel the
    whole corpus through one task at 100 TB."""
    from realtime_change_data_capture_streaming_spark.llm_ops import curation

    df = curation.curation_pack_shards(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    c = plan_counts(df)
    assert c["python_evals"] == 0, c


def test_curation_scrub_and_sample_stay_narrow(spark, sf_dir):
    """PII scrubbing and hash-sampling are pure projections/filters: zero
    shuffles, zero Python, predicates in codegen."""
    from realtime_change_data_capture_streaming_spark.llm_ops import curation
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    scrubbed = curation.scrub_pii(d)
    c = plan_counts(scrubbed)
    assert c["exchanges"] == 0 and c["python_evals"] == 0, c
    sampled = curation.stratified_sample(d, {"en": 50, "de": 25})
    c2 = plan_counts(sampled)
    assert c2["exchanges"] == 0 and c2["python_evals"] == 0, c2


def test_pivot_single_scan_two_phase_aggregate(spark, sf_dir):
    """Explicit pivot values -> one scan feeding Spark's two-phase pivot
    (pre-aggregate on (key, pivot-value), then pivotfirst on key) with no
    join and no Python.  The implicit form would additionally run an eager
    distinct JOB over the pivot column at plan time — a second full scan,
    wrong at scale."""
    from realtime_change_data_capture_streaming_spark.operators.reshape import pivot_revenue_by_year
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    df = pivot_revenue_by_year(spark, sf_dir)
    c = plan_counts(df)
    assert executed_plan(df).count("FileScan") == 1, "pivot must scan lineitem once"
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0, c
    assert c["python_evals"] == 0, c
    # (key, yr) pre-agg pair + pivotfirst pair; both hash, never sort-agg
    assert c["hash_aggregates"] <= 4 and c["sort_aggregates"] == 0, c
    assert c["exchanges"] <= 3, c  # two agg shuffles + orderBy range exchange


def test_unpivot_is_shuffle_free(spark, sf_dir):
    """unpivot/melt = Expand projection: zero exchanges, zero aggregates."""
    from realtime_change_data_capture_streaming_spark.operators.reshape import unpivot_part_measures

    df = unpivot_part_measures(spark, sf_dir)
    c = plan_counts(df)
    assert c["exchanges"] == 0, c
    assert c["hash_aggregates"] == 0, c


def test_zorder_topk_avoids_global_sort(spark, sf_dir):
    """Z-order sample plans as TakeOrderedAndProject (per-partition top-k
    + single merge), not a range-partitioned global sort, and the Morton
    interleave stays in codegen (no Python eval)."""
    from realtime_change_data_capture_streaming_spark.plans.layout import layout_zorder_topk
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    df = layout_zorder_topk(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    c = plan_counts(df)
    assert c["exchanges"] == 0, c  # top-k needs no shuffle at all
    assert c["python_evals"] == 0, c


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When the build side is too large to broadcast (the 100 TB case for
    a big dim), Catalyst must inject a runtime bloom filter on the probe
    side (might_contain on the join key) so fact rows that cannot match
    are dropped BEFORE the shuffle — the semi-join reduction that keeps
    selective shuffle joins affordable at scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_quantize_scale_materialized_below_exchange(spark, sf_dir):
    """embedding_quantize_int8 must read q_scale as a column in the output
    projection, not re-inline the array_max subtree into every per-element
    lambda (interpreted HOFs have no CSE: inlining makes codes O(d^2) per
    vector).  The pin: above the repartition barrier the plan contains only
    the two legitimate O(d) array_max reductions (q_max and the error
    fold), and exactly one exchange total."""
    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import embedding_quantize_int8

    df = embedding_quantize_int8(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    top = opt.split("Repartition")[0]
    assert top.count("array_max") <= 2, (
        f"array_max inlined {top.count('array_max')}x above the barrier — "
        "q_scale is being recomputed inside element lambdas"
    )
    assert "q_scale" in top
    c = plan_counts(df)
    assert c["exchanges"] <= 1, c


def test_gapfill_and_scd2_plan_single_exchange(spark):
    """The subset-partitioning reuse claims (SURVEY 8.3): the gap-fill and
    SCD2 pipelines each run on ONE hash exchange — the up-front key
    partitioning satisfies every downstream agg/window requirement.  A
    regression that reintroduces a join or loses the reuse shows up here
    as an extra Exchange."""
    import re

    from realtime_change_data_capture_streaming_spark.cdc.queries import cdc_scd2_history
    from realtime_change_data_capture_streaming_spark.operators.events import events_gapfill_locf
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (
            events_gapfill_locf(spark, "/root/testdata/sf0.001"),
            cdc_scd2_history(spark, "/root/testdata/sf0.001"),
        ):
            plan = executed_plan(df)
            n = len(re.findall(r"Exchange hashpartitioning", plan))
            assert n == 1, f"expected 1 hash exchange, found {n}:\n{plan[:2000]}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dq_expectations_single_scan_rule_suite(spark, sf_dir):
    """The rule suite must evaluate all non-referential rules in ONE
    aggregate over one orders scan (plus the anti-join branch) — a
    per-rule re-scan would read the table R times at 100 TB."""
    from realtime_change_data_capture_streaming_spark.operators.quality import dq_expectations

    df = dq_expectations(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # orders appears in: rule-suite scan, anti-join left, total-count scalar
    assert plan.count("orders.parquet") <= 3, plan.count("orders.parquet")
    assert_no_cartesian(df.where(F.col("rule") != "ref_custkey_exists"))


def test_interval_overlap_is_equi_join_on_band(spark, sf_dir):
    """The overlap join must key on the day band (equi-join with the
    interval predicate as residual filter) — a pure theta join would be
    a broadcast-nested-loop over all interval pairs."""
    from realtime_change_data_capture_streaming_spark.operators.quality import (
        join_interval_overlap_daily,
    )

    df = join_interval_overlap_daily(spark, sf_dir)
    c = plan_counts(df)
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0, c
    assert c["sort_merge_joins"] + c["shuffled_hash_joins"] + c["broadcast_joins"] >= 1, c


def test_basket_pairs_no_cartesian(spark, sf_dir):
    """Pair expansion must ride the orderkey equi-join (order-sized
    blocks), never a cartesian."""
    from realtime_change_data_capture_streaming_spark.operators.stats import basket_part_pairs

    df = basket_part_pairs(spark, sf_dir)
    c = plan_counts(df)
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0, c


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    """The 5-row bounds table must broadcast back onto the events scan —
    shuffling the fact side to join a constant-size table is the
    anti-pattern the two-pass design avoids."""
    from realtime_change_data_capture_streaming_spark.operators.quality import events_winsorize_value

    df = events_winsorize_value(spark, sf_dir)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, c
    assert c["cartesian"] == 0, c


def test_pq_search_broadcasts_lut_and_codebook(spark, sf_dir):
    """PQ search must broadcast the per-query LUT and the codebook; the
    candidate CODE table is the only full-size join input."""
    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import ann_pq_adc_topk

    df = ann_pq_adc_topk(spark, sf_dir)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 2, c
    assert c["cartesian"] == 0, c


def test_top_paths_single_window_no_global_sort(spark, sf_dir):
    """Path mining must ride one window pass + TakeOrderedAndProject —
    a join-per-step or full global sort would not survive scale."""
    from realtime_change_data_capture_streaming_spark.operators.events import events_top_paths

    df = events_top_paths(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    c = plan_counts(df)
    assert c["sort_merge_joins"] + c["shuffled_hash_joins"] + c["broadcast_joins"] == 0, c


def test_chisq_scans_fact_table_once(spark, sf_dir):
    """Marginals/total/dof must derive from the contingency table, not
    from re-scanning documents: exactly one scan of the fact table."""
    from realtime_change_data_capture_streaming_spark.operators.stats import docs_chisq_lang_source

    df = docs_chisq_lang_source(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") <= 1, plan.count("documents.parquet")


def test_bm25_filters_postings_before_joins(spark, sf_dir):
    """BM25 must reduce the (doc, term) aggregate to query-term postings
    BEFORE any join (the inverted-index access shape): the term IN
    filter sits below the first join in the plan, and no cartesian or
    global sort of the full corpus appears (top-k is
    TakeOrderedAndProject)."""
    from realtime_change_data_capture_streaming_spark.llm_ops.text import text_bm25_topk

    df = text_bm25_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    c = plan_counts(df)
    assert c["cartesian"] == 0, c
    assert "TakeOrderedAndProject" in plan, plan
    first_join = min(
        (plan.index(m) for m in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") if m in plan),
        default=len(plan),
    )
    fpos = plan.find("IN (data,hash,merge)")
    assert 0 <= fpos, "query-term IN filter not found in plan"
    # the plan string nests children BELOW parents, so a filter applied
    # before the join prints after it — the filter must NOT appear above
    # (textually before) every join, i.e. some join precedes it
    assert first_join < fpos, "query-term filter runs above the joins (full-vocab shuffle)"


def test_substring_spans_no_cartesian_single_anchor_build(spark, sf_dir):
    """The substring-span self-join must be an equi-join on the anchor
    hash with no cartesian; the capped anchor table is checkpointed, so
    the plan contains exactly one scan of the checkpointed RDD per join
    side and NO re-derivation of the tokenize pipeline (no posexplode
    generator nodes above the checkpoint)."""
    from realtime_change_data_capture_streaming_spark.llm_ops.dedup import dedup_substring_spans

    df = dedup_substring_spans(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    c = plan_counts(df)
    assert c["cartesian"] == 0, c
    assert "Generate" not in plan, "tokenize pipeline re-derived above the checkpoint"
    assert "Scan ExistingRDD" in plan, plan


def test_round6_analytics_ops_no_cartesian(spark, sf_dir):
    """Blanket shuffle-hygiene pin for the round-6 analytics additions:
    no cartesian products anywhere (1-row broadcast scalar attaches
    plan as BroadcastNestedLoopJoin and are allowed)."""
    from realtime_change_data_capture_streaming_spark.cdc.queries import cdc_forget_users
    from realtime_change_data_capture_streaming_spark.llm_ops.text import text_bigram_pmi, text_rrf_fusion_topk
    from realtime_change_data_capture_streaming_spark.operators.events import (
        events_daily_user_growth,
        events_mad_outliers,
    )
    from realtime_change_data_capture_streaming_spark.operators.stats import (
        parts_abc_analysis,
        sketch_hll_users,
        sketch_kmv_set_ops,
    )

    for op in (
        events_daily_user_growth,
        events_mad_outliers,
        parts_abc_analysis,
        sketch_hll_users,
        sketch_kmv_set_ops,
        text_bigram_pmi,
        text_rrf_fusion_topk,
        cdc_forget_users,
    ):
        c = plan_counts(op(spark, sf_dir))
        assert c["cartesian"] == 0, (op.__name__, c)


def test_bloom_prefilter_semi_join_below_shuffle_join(spark, sf_dir):
    """join_bloom_prefiltered_revenue: the broadcast SEMI join against
    the bounded position set must prune the fact scan BEFORE the exact
    shuffle join (runtime-filter shape), and the exact join must still
    be present to remove false positives."""
    from realtime_change_data_capture_streaming_spark.operators.relational import (
        join_bloom_prefiltered_revenue,
    )
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    df = join_bloom_prefiltered_revenue(spark, sf_dir)
    plan = executed_plan(df)
    assert "LeftSemi" in plan, plan[:1500]
    # the semi join (probe-side reduction) appears deeper in the tree
    # than the exact equi-join that consumes it
    assert plan.index("LeftSemi") > plan.index("SortMergeJoin" if "SortMergeJoin" in plan else "Join"), (
        "semi-join reduction must sit below the exact join"
    )
    assert_no_cartesian(df)


def test_round8_ops_plan_shapes(spark, sf_dir):
    """Round-8 operators keep their scale contracts: the BPE encode
    vocabulary join broadcasts (corpus side never shuffles on the join
    key), the quality-logit inference is pure codegen with no Python
    eval and no join at all, and the Mann-Whitney reduction carries no
    cartesian or nested-loop join."""
    from realtime_change_data_capture_streaming_spark.llm_ops.features import quality_logit_scores
    from realtime_change_data_capture_streaming_spark.llm_ops.text import text_bpe_encode
    from realtime_change_data_capture_streaming_spark.operators.stats import (
        events_mannwhitney_value,
    )

    enc = text_bpe_encode(spark, sf_dir)
    assert broadcast_join_count(enc) >= 1, "BPE vocab join must broadcast"
    assert_no_cartesian(enc)

    # r10: inference consumes the TRAINED broadcast weight map, so the
    # plan gains doc-scale equi-joins (totals + labels) — but it stays
    # pure codegen (no Python eval) and carries no cartesian
    logit = quality_logit_scores(spark, sf_dir)
    c = plan_counts(logit)
    assert c["python_evals"] == 0, "logit inference must stay JVM-side"
    assert_no_cartesian(logit)

    mwu = events_mannwhitney_value(spark, sf_dir)
    assert_no_cartesian(mwu)
    assert plan_counts(mwu)["python_evals"] == 0


def test_round9_ops_plan_shapes(spark, sf_dir):
    """Round-9 operators keep their scale contracts: the unigram
    segmentation is a codegen fold with a broadcast vocabulary join and
    zero Python evals; the multi-table FK gate is ONE semi-join (no
    cartesian) after per-table latest-wins; the semantic-dedup pair
    stage carries no cartesian (cluster-key equi-join only) and no
    Python; the MJPEG/WebP queries are single-scan mapInPandas with no
    joins at all."""
    from realtime_change_data_capture_streaming_spark.cdc.queries import cdc_multitable_fk_apply
    from realtime_change_data_capture_streaming_spark.llm_ops.dedup import dedup_semantic_clusters
    from realtime_change_data_capture_streaming_spark.llm_ops.multimodal import (
        multimodal_mjpeg_scene_cuts,
    )
    from realtime_change_data_capture_streaming_spark.llm_ops.text import text_unigram_segment
    from realtime_change_data_capture_streaming_spark.llm_ops.webp import (
        multimodal_webp_lossless_features,
    )

    uni = text_unigram_segment(spark, sf_dir)
    assert broadcast_join_count(uni) >= 1, "unigram vocab join must broadcast"
    assert plan_counts(uni)["python_evals"] == 0, "Viterbi fold must stay JVM-side"
    assert_no_cartesian(uni)

    fk = cdc_multitable_fk_apply(spark, sf_dir)
    assert_no_cartesian(fk)
    assert "LeftSemi" in fk._jdf.queryExecution().executedPlan().toString(), (
        "the FK gate must be a semi-join"
    )

    # semantic dedup: the only nested-loop joins allowed are the broadcast
    # crossJoins against the k-row centroid table (bounded model state, the
    # _sem_assign design) — the persisted assignment's lineage appears under
    # BOTH sides of the pair self-join, so the scoring BNL shows twice; the
    # PAIR stage itself must be an equi-join on the cluster key
    sem = dedup_semantic_clusters(spark, sf_dir)
    c = plan_counts(sem)
    assert c["python_evals"] == 0, "cosine folds must stay JVM-side"
    assert c["cartesian"] == 0
    assert c["bnl_joins"] <= 2, "only the broadcast centroid scoring may nested-loop"
    assert c["sort_merge_joins"] + c["shuffled_hash_joins"] + c["broadcast_joins"] >= 1, (
        "the pair stage must be an equi-join on the cluster key"
    )

    for q in (multimodal_mjpeg_scene_cuts, multimodal_webp_lossless_features):
        df = q(spark, sf_dir)
        c = plan_counts(df)
        assert c["broadcast_joins"] + c["sort_merge_joins"] + c["shuffled_hash_joins"] == 0
        assert_no_cartesian(df)


def test_spread_skips_shuffle_when_scan_already_parallel(spark, sf_dir):
    """guide §2.4 / r16: the keyless spread() exists to fix small-file
    locality, not to mandate a shuffle — Spark never elides an explicit
    repartition, so at scale the unconditional form round-robins (and
    sort-before-repartitions) the whole input for nothing.  When the
    driver-side file-split estimate already covers the core count,
    spread() must return its input UNCHANGED; on the local small-file
    fixture it must still repartition."""
    from realtime_change_data_capture_streaming_spark.operators._util import spread

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert spread(e) is not e, "small-file scan must still be spread locally"
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64b")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        assert spread(e) is e, "wide scan must not pay a round-robin shuffle"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)
    # the keyed form establishes a reusable hash partitioning: unconditional
    assert spread(e, "vec_id") is not e


def test_with_tokens_single_regex_eval_without_the_repartition_barrier(spark, sf_dir):
    """r16: with_tokens' repartition used to double as a CollapseProject
    barrier against re-running the tokenize regex once per consumer
    lambda.  Spark 4's CollapseProject already refuses to duplicate
    non-cheap expressions, so the barrier-free wide-scan mode must still
    evaluate the regex pipeline exactly once — and must NOT round-robin
    the corpus."""
    from realtime_change_data_capture_streaming_spark.llm_ops.text import token_stats
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64b")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        plan = executed_plan(token_stats(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)
    assert plan.count("RoundRobinPartitioning") == 0, "wide scan must not be shuffled"
    # the tokenize pipeline's cleaning regex must appear exactly once
    assert plan.count("[^a-z0-9 ]") == 1, "tokenize regex duplicated into consumers"


def test_scan_width_estimate_is_filesystem_correct(spark, sf_dir, monkeypatch):
    """ADVICE r16: estimated_scan_partitions only os.stat'ed local paths,
    so on HDFS/S3 every file fell to the open-cost-only branch and the
    estimate collapsed to ~n_files/32 of reality.  Non-local URIs must
    now stat through the JVM Hadoop FileSystem (same bytes as the local
    stat), and a file NO filesystem can stat must flip the statability
    flag so each call site takes its own conservative branch."""
    from realtime_change_data_capture_streaming_spark.plans.introspect import (
        estimated_scan_partitions_ex,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    real_files = list(e.inputFiles())
    assert real_files, "fixture scan lists no files"
    local_est, local_ok = estimated_scan_partitions_ex(e)
    assert local_ok and local_est >= 1

    # the same files behind a non-"file" scheme the OS cannot stat but
    # Hadoop can (a viewfs mount onto the fixture dir)
    from urllib.parse import urlparse

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.tst.link./data", f"file://{sf_dir}"
    )
    fake = [
        "viewfs://tst/data" + urlparse(u).path.removeprefix(sf_dir)
        for u in real_files
    ]
    assert all(not f.startswith("viewfs://tst/data/root") for f in fake[:1])
    # patch the CONCRETE class: Spark 4's session returns
    # pyspark.sql.classic.DataFrame, which overrides the base's methods
    monkeypatch.setattr(type(e), "inputFiles", lambda self: list(fake))
    est, ok = estimated_scan_partitions_ex(e)
    assert ok, "Hadoop-statable URI wrongly marked unstatable"
    assert est == local_est, "JVM stat path disagrees with the local stat"

    # an unstatable URI: open-cost contribution only, flag flipped
    monkeypatch.setattr(
        type(e), "inputFiles", lambda self: ["nosuchfs://h/x.parquet"]
    )
    est2, ok2 = estimated_scan_partitions_ex(e)
    assert not ok2 and est2 >= 0


def test_unstatable_scan_takes_each_consumers_conservative_branch(spark, sf_dir, monkeypatch):
    """The two gate consumers disagree on what 'conservative' means for
    an unstatable input: spread()/with_tokens must KEEP their repartition
    (never skip on a guess), while the _per_query_topk fold gate must
    treat the scan as arbitrarily wide and ENGAGE the fold."""
    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import _per_query_topk
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.plans.introspect import executed_plan

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.filter(F.col("vec_id") >= 4).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding")
    )
    dot = F.aggregate(
        F.zip_with("qe", "embedding", lambda x, y: x * y), F.lit(0.0), lambda a, z: a + z
    )
    scored = F.broadcast(q).crossJoin(c).select("query_id", "cand_id", dot.alias("score"))
    narrow_plan = executed_plan(_per_query_topk(scored, 3, "score", False))

    monkeypatch.setattr(
        type(e), "inputFiles", lambda self: ["nosuchfs://h/x.parquet"]
    )
    # fold gate: unstatable => assume wide => extra fold Window appears
    wide_plan = executed_plan(_per_query_topk(scored, 3, "score", False))
    assert wide_plan.count("Window") > narrow_plan.count("Window"), (
        "fold gate must engage when the scan width cannot be established"
    )
    # spread: unstatable => keep the repartition even under tiny splits
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64b")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        assert spread(e) is not e, (
            "spread must not skip its repartition on an unstatable scan"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)


def test_parse_bytes_conf_falls_back_instead_of_failing_the_build(spark):
    """ADVICE r16: a byte-conf spelling outside the integer regex
    ('1.5g', 'auto') must not raise out of the metadata helpers at
    query-build time — it falls back to the caller's documented
    default."""
    from realtime_change_data_capture_streaming_spark.plans.introspect import _parse_bytes_conf

    key = "spark.sql.files.maxPartitionBytes"
    assert _parse_bytes_conf("128m", 7, key) == 128 * 1024 * 1024
    assert _parse_bytes_conf("64b", 7, key) == 64
    assert _parse_bytes_conf("1.5g", 7, key) == 7
    assert _parse_bytes_conf("auto", 7, key) == 7
    assert _parse_bytes_conf("", 7, key) == 7


def test_parse_bytes_conf_warns_once_naming_key_and_value():
    """A mistyped byte-size conf still falls back without raising, but
    says so once, naming the key and the rejected value."""
    import warnings

    from realtime_change_data_capture_streaming_spark.plans.introspect import _parse_bytes_conf

    key = "spark.sql.files.testOnlyBytes"
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        assert _parse_bytes_conf("12x8m", 7, key) == 7
        assert _parse_bytes_conf("12x8m", 7, key) == 7
        assert _parse_bytes_conf("64m", 7, key) == 64 * 1024 * 1024
    assert len(got) == 1, [str(w.message) for w in got]
    assert key in str(got[0].message) and "'12x8m'" in str(got[0].message)
