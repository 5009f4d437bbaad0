"""Physical-plan quality gates: the properties that keep the engine fast at
100 TB are asserted here so a regression shows up as a test failure, not a
benchmark mystery.

Checks (all on the formatted explain output of registered queries):
  * scans push predicates and prune columns (PushedFilters / ReadSchema);
  * small-dimension joins pick BroadcastHashJoin, not a shuffled join;
  * hot paths run inside WholeStageCodegen (no interpreted fallback);
  * per-key operators never degrade to a single-partition global window.
"""

from __future__ import annotations

from lab_etl_spark.catalog import load_table
from lab_etl_spark.queries import load_all

REGISTRY = load_all()


def _fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    p = _fmt(REGISTRY["q_filter_project"].fn(spark, sf_dir))
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p, p
    # 5 output cols + 1 filter-only col: the scan must read exactly the 6
    # referenced columns, never the full 16-col lineitem schema.
    read_schema = next(
        line for line in p.splitlines() if "ReadSchema" in line
    )
    assert read_schema.count(",") <= 5, read_schema
    assert "l_comment" not in read_schema, read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    p = _fmt(REGISTRY["q_broadcast_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_range_join_is_binned_hash_join(spark, sf_dir):
    # The band join must compile to a codegen broadcast HASH join on the
    # bucket key (binned range join), never a BroadcastNestedLoopJoin —
    # BNLJ evaluates the full theta predicate per row x band outside
    # whole-stage codegen and its cost scales with the band count.
    p = _fmt(REGISTRY["q_range_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_pricing_summary_single_shuffle(spark, sf_dir):
    # Scan → partial agg → one exchange → final agg: a second exchange
    # means map-side partial aggregation broke.  Count exchange *nodes*
    # ("(N) Exchange" detail headers), not raw substring hits — formatted
    # explain prints each node twice (tree + details).
    import re

    p = _fmt(REGISTRY["q_pricing_summary"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1, p
    assert "partial_sum" in p, p  # map-side combine present


def test_hot_path_has_no_python_udf(spark, sf_dir):
    # The exact-dedup pipeline (fingerprint + groupBy) is all builtins:
    # hash-aggregated with map-side combine, and never drops into a
    # row-at-a-time Python eval.  (Codegen markers aren't visible in an
    # unexecuted AQE plan, so assert the operator choice instead.)
    p = _fmt(REGISTRY["q_dedup_exact"].fn(spark, sf_dir))
    assert "HashAggregate" in p, p
    assert "partial_min" in p, p
    assert "BatchEvalPython" not in p, p


def test_filter_plan_runs_in_codegen(spark, sf_dir):
    # Non-AQE narrow plan shows codegen annotations directly: the whole
    # filter+project pipeline must sit in one codegen stage.
    p = _fmt(REGISTRY["q_filter_project"].fn(spark, sf_dir))
    assert "[codegen id : 1]" in p, p


def test_interp_by_key_partitions_windows(spark, sf_dir):
    # Partitioned interpolation must not collapse to a global single
    # partition window (the scale failure mode of q_interp_linear's
    # single-series cousin).
    p = _fmt(REGISTRY["q_interp_by_key"].fn(spark, sf_dir))
    assert "Window" in p, p
    assert "SinglePartition" not in p, p


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    # heaps + driver merge), never a full global sort of the join output.
    p = _fmt(REGISTRY["q_shipping_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_six_way_join_broadcasts_dims(spark, sf_dir):
    # supplier/nation/region must ride broadcast joins; only the two fact
    # tables may meet in a shuffled join.
    p = _fmt(REGISTRY["q_local_supplier_volume"].fn(spark, sf_dir))
    import re

    n_bc = len(re.findall(r"\(\d+\) BroadcastHashJoin", p))
    n_smj = len(re.findall(r"\(\d+\) SortMergeJoin", p))
    assert n_bc >= 3, p
    assert n_smj <= 2, p


def test_fuzzy_blocking_key_includes_length_bucket(spark, sf_dir):
    # The fuzzy-match / entity-resolution candidate join must block on
    # (brand, name-length bucket), not brand alone: with a brand-only key a
    # hot brand's block goes quadratic at scale.  The bucket column must be
    # part of the join key (visible in the join's key list / shuffle
    # partitioning), not merely a post-join filter.
    # (q_entity_resolution shares _blocked_name_pairs but is an eager CC
    # loop — see _SWEEP_SKIP — so the kernel is asserted once here.)
    p = _fmt(REGISTRY["q_fuzzy_match"].fn(spark, sf_dir))
    key_lines = [
        line for line in p.splitlines() if "keys [" in line.lower()
    ]
    assert key_lines, p
    assert any("bucket" in line for line in key_lines), "\n".join(key_lines)


def test_salted_join_keys_include_salt(spark, sf_dir):
    # The skew-proof join must shuffle on (key, salt) AND the salt must be
    # derived from a non-join-key column (salting by the hot key itself
    # would send every hot key to one reducer again — the regression this
    # gate exists to catch).
    p = _fmt(REGISTRY["q_skew_join_salted"].fn(spark, sf_dir))
    assert "xxhash64(event_id" in p, p
    assert "xxhash64(user_id" not in p, p
    assert "salt" in p, p


def test_shuffle_hash_join_hint_respected(spark, sf_dir):
    p = _fmt(REGISTRY["q_shuffle_hash_join"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_bucketed_join_no_exchange(spark, sf_dir):
    # Co-partitioned lake layout: both sides bucketed+sorted on the join key
    # → SortMergeJoin with ZERO Exchange (and no per-task Sort), the layout
    # we'd give the orders⋈lineitem family at 100 TB.
    import re

    from pyspark.sql import functions as F

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("od_bucketed")
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("li_bucketed")
        j = spark.table("od_bucketed").join(
            spark.table("li_bucketed"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        p = _fmt(j)
        assert "SortMergeJoin" in p, p
        assert re.findall(r"\(\d+\) Exchange", p) == [], p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS od_bucketed")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")


# Queries allowed to show SinglePartition in their plan, with the reason:
#   q_interp_linear   — documented single-series grid (q_interp_by_key is the
#                       partitioned scale path, gated above);
#   q_scalar_subquery — the one-row global aggregate itself; the fact-table
#                       filter it feeds stays fully parallel.
#   q_funnel          — the final 4-counter global aggregate; the per-user
#                       conditional aggregation below it is the data-sized
#                       stage and stays hash-partitioned on user_id.
#   q_tfidf           — the one-row corpus-size (N) aggregate broadcast into
#                       the scoring join; tf/df aggregates stay partitioned.
#   q_promo_revenue   — the single-row promo-share result itself; the
#                       lineitem×part join + partial aggregation below it
#                       stay fully parallel (map-side combine feeds one
#                       final 2-value reduce).
#   q_top_supplier    — the one-row MAX(total_revenue) scalar broadcast
#                       back over the per-supplier aggregate; the revenue
#                       aggregation stays hash-partitioned on suppkey.
#   q_small_qty_revenue / q_disjunctive_join — the single-row global
#                       revenue result itself; the join + partial
#                       aggregation below it stay fully parallel.
#   q_idle_customers  — the one-row average-balance scalar broadcast into
#                       the cross join; the anti join + per-segment
#                       aggregate stay hash-partitioned.
#   q_global_share    — the global-revenue scalar re-aggregates the <=25-row
#                       per-nation result; the data-sized aggregation below
#                       stays hash-partitioned on s_nationkey.
#   q_source_mix_weights — same shape: 1-row total over |sources| rows.
#   q_pagerank        — the broadcast 1-row vertex-count scalar (per
#                       iteration); the edge joins and contribution
#                       aggregations stay hash-partitioned on src/dst.
#   q_forecast_revenue — the single-row Q6 forecast itself; all predicates
#                       push to the scan and the partial aggregation below
#                       the final 1-row exchange stays fully parallel.
#   q_bloom_join_prune — the 1-row word→bits bitset map built from the
#                       ~1/5-of-customer dim keys and broadcast; the fact
#                       probe and the exact join stay fully parallel.
#   q_heavy_hitters_cms — the 1-row total-token-count scalar gating the φ
#                       threshold; sketch build and read-out aggregates
#                       stay hash-partitioned.
#   q_date_spine_fill — the 1-row (min, max) date-bounds aggregate the
#                       calendar spine explodes from; the daily revenue
#                       aggregate stays hash-partitioned and the ≤|days|-row
#                       spine broadcasts into the fill join.
#   q_data_quality    — five 1-row (checked, violations) rule counters; the
#                       underlying scans/anti-join stay fully parallel and
#                       feed 1-row reduces.
#   q_lsh_recall      — the final 1-row recall counters; the truth and
#                       LSH pair pipelines and their join stay partitioned.
#   q_unigram_logprob — the 1-row corpus token-total scalar (ln(N) term);
#                       the vocabulary aggregate, token join-back, and
#                       per-doc aggregate stay hash-partitioned.
_SINGLE_PARTITION_OK = {
    "q_lsh_recall",
    "q_unigram_logprob",
    "q_bloom_join_prune",
    "q_heavy_hitters_cms",
    "q_data_quality",
    "q_date_spine_fill",
    "q_pagerank",
    "q_global_share",
    "q_source_mix_weights",
    "q_forecast_revenue",
    "q_interp_linear",
    "q_scalar_subquery",
    "q_funnel",
    "q_tfidf",
    "q_promo_revenue",
    "q_top_supplier",
    "q_small_qty_revenue",
    "q_disjunctive_join",
    "q_idle_customers",
    # 1-row broadcast of corpus stats (N, avgdl, per-term df)
    "q_bm25",
    # 1-row broadcast of the doc count N for the pmi denominator
    "q_cooccurrence_pmi",
    # the sufficient-stats aggregate IS one global row (15 numbers); the
    # data-sized partial aggregation below it stays fully parallel
    "q_corr_matrix",
    # 1-row broadcast of the part count for the candidate modulus
    "q_negative_sampling",
    # 1-row broadcast of the basket total for the lift denominator
    "q_market_basket",
    # 1-row broadcast of the corpus token grand total (KL denominator)
    "q_kl_divergence",
    # k-row -> 1-row collect of the centroid array for the map-only
    # argmin assign (round-9; k = n/250 stays broadcast-sized at any
    # tested scale — the point set itself never single-partitions)
    "q_semdedup_kmeans",
    # same shape, K=4 fixed: two 1-row centroid collects per Lloyd pass
    "q_kmeans_lloyd",
    # 1-row broadcast of the pooled CUPED sufficient statistics
    "q_abtest_cuped",
    # the final 4-counter global aggregate (q_funnel's documented shape);
    # the chained per-user windows below it stay user_id-partitioned
    "q_funnel_windowed",
    # cumulative walk over the merged histogram SKETCH (|buckets| rows,
    # sketch-sized by construction — never the data)
    "q_quantile_histogram",
    # rank within a CONSTANT-size top-K candidate list (RRF_TOPN rows by
    # construction via TakeOrderedAndProject; fusing full rankings is the
    # textbook scale mistake this query exists to avoid)
    "q_rrf_fusion",
    # same pattern: rk assigned over the PQ_TOPK rows a
    # TakeOrderedAndProject already reduced to
    "q_pq_adc",
    # rank selection over the BKQ_K-row bottom-k sample (the sketch is
    # constant-size by construction; the sampling pass itself is
    # TakeOrderedAndProject per-partition heaps)
    "q_bottomk_quantile",
    # NTILE quartiles run over the per-CUSTOMER aggregate (orders of
    # magnitude smaller than the fact table) — documented compromise;
    # approx-percentile cutpoints replace NTILE beyond ~millions of rows
    "q_rfm_segmentation",
    # rk assigned over the IR_K rows a TakeOrderedAndProject already
    # reduced to (the q_rrf_fusion/q_pq_adc pattern)
    "q_importance_resampling",
    # OPTIMIZER-injected runtime bloom-filter merges: Spark builds a join
    # pruning filter from the GA_QUERIES-row query-id side, and the
    # partial_bloom_filter_agg buffers (1 row each) merge on a single
    # partition — constant-size scalar aggregates, not data windows; the
    # query's own windows are all query_id/vec_id/src-partitioned
    "q_graph_ann",
}

# Excluded from the sweep because their fn() *executes* work at build time
# (streaming drain / iterative localCheckpoint loop); each has its own
# dedicated tests.
_SWEEP_SKIP = {
    "q_stream_stateful_ewma",
    "q_stream_running_stats",  # drains a streaming query at build time
    "q_stream_cms_merge",  # drains a streaming query at build time
    "q_stream_dedup",  # drains a streaming query at build time
    "q_dedup_clusters",
    "q_entity_resolution",  # same eager CC loop as q_dedup_clusters
    # disk-round-trip queries: fn() eagerly writes a scratch lake at
    # build time (each has dedicated tests + oracle parity coverage)
    "q_jsonl_roundtrip",
    "q_corrupt_records",
    "q_zorder_skipping",
    "q_schema_evolution",
    "q_commitlog_roundtrip",
    "q_bucketed_join",
    "q_partition_pruning",
    "q_orc_roundtrip",
    "q_xml_roundtrip",
    "q_webdataset_roundtrip",
    "q_arrow_roundtrip",
    "q_stats_pruning",
    "q_footer_pruned_scan",  # eager scratch-lake write at build time
    "q_point_lookup_bloom",
    "q_dynamic_partition_pruning",
    "q_time_travel",
    "q_user_purge",
    "q_purge_dv",  # eager snapshot write + DV commit at build time
    "q_version_diff",  # eager snapshot write + DV commit at build time
    "q_upsert_dv",  # eager snapshot write + DV commit at build time
    "q_cdf_consumer",  # eager snapshot write + 2 cursor polls at build time
    # eager localCheckpoint materialization (unpersist discipline)
    "q_pagerank",
    "q_shortest_path",
    "q_triangle_count",  # edges + oriented edges checkpointed (reused 3x/2x)
    "q_kcore",  # per-round frontier checkpoint (operators/iterate.py)
    "q_label_propagation",  # per-round label checkpoint (operators/iterate.py)
    "q_mutual_information",  # joint-count table checkpointed (reused 4x)
    "q_attribution_markov",  # per-iteration chain checkpoints (kcore discipline)
}


def test_registry_wide_plan_hygiene(spark, sf_dir):
    # Every registered query: no Python eval anywhere in the row path, and
    # no unexpected data-sized single-partition stage.
    offenders_py, offenders_sp = [], []
    for name, q in sorted(REGISTRY.items()):
        if name in _SWEEP_SKIP:
            continue
        p = _fmt(q.fn(spark, sf_dir))
        # q_udtf_token_offsets IS the Python-table-function surface demo —
        # the one registered query allowed a Python eval node (its doc
        # explains why; everything else stays JVM-side).
        if name != "q_udtf_token_offsets" and (
            "BatchEvalPython" in p or "ArrowEvalPython" in p
        ):
            offenders_py.append(name)
        if "SinglePartition" in p and name not in _SINGLE_PARTITION_OK:
            offenders_sp.append(name)
    assert offenders_py == [], offenders_py
    assert offenders_sp == [], offenders_sp


def test_scan_prunes_columns_generally(spark, sf_dir):
    # load_table must not defeat parquet column pruning: a 2-col projection
    # reads a 2-col schema.
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    read_schema = next(
        line for line in _fmt(df).splitlines() if "ReadSchema" in line
    )
    assert "l_comment" not in read_schema, read_schema
    assert read_schema.count(",") <= 2, read_schema


def test_asof_join_single_exchange_single_window(spark, sf_dir):
    # The as-of join must stay union + ONE key shuffle + ONE window pass —
    # if it ever regresses to a range join the plan grows a second Exchange
    # or a join node, and a global window would be a SinglePartition sort.
    import re

    p = _fmt(REGISTRY["q_asof_join"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    # both branch scans push their event_type predicate into parquet
    assert p.count("PushedFilters: [IsNotNull(event_type)") == 2, p


def test_text_repetition_is_map_only(spark, sf_dir):
    # Repetition gates are pure per-row array math: no shuffle at all.
    import re

    p = _fmt(REGISTRY["q_text_repetition"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p
    assert "BatchEvalPython" not in p, p


def test_pii_redact_is_map_only(spark, sf_dir):
    import re

    p = _fmt(REGISTRY["q_pii_redact"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p
    assert "BatchEvalPython" not in p, p


def test_bucketed_join_query_plan(spark, sf_dir):
    # The registered bucketed-join query: the SortMergeJoin must consume
    # both bucketed scans directly — no Exchange and no Sort below the
    # join (the layout pre-paid both).  The only exchanges allowed are the
    # post-join aggregate's and the final ORDER BY's.
    import re

    p = _fmt(REGISTRY["q_bucketed_join"].fn(spark, sf_dir))
    assert "SortMergeJoin" in p, p
    smj_prefix = p.split("SortMergeJoin")[0]
    tree = smj_prefix[smj_prefix.rfind("(1) ") :] if "(1) " in smj_prefix else smj_prefix
    join_inputs = [
        line
        for line in p.splitlines()
        if "Scan parquet" in line or re.search(r"\(\d+\) Sort\b", line)
    ]
    # no Sort nodes anywhere below the join: the final orderBy is a
    # TakeOrderedAndProject/Sort ABOVE the aggregate, so at most one Sort
    # (for the ORDER BY) may appear in the whole plan.
    assert len([l for l in join_inputs if "Sort" in l]) <= 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p


def test_partition_pruning_in_plan(spark, sf_dir):
    p = _fmt(REGISTRY["q_partition_pruning"].fn(spark, sf_dir))
    line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "event_date" in line, p
    # the data filter must NOT degrade to a post-scan filter on ts date
    assert "PartitionFilters: []" not in p, p


def test_incremental_agg_merges_partials(spark, sf_dir):
    # Merge plan: two aggregates + one full-outer join of ≤|event_types|
    # rows each — never a re-scan-sized shuffle.  Both branch scans must
    # push the modulo split's IsNotNull and keep partial aggregation.
    p = _fmt(REGISTRY["q_incremental_agg"].fn(spark, sf_dir))
    assert "partial_count" in p or "partial_sum" in p, p
    assert "SortMergeJoin FullOuter" in p or "ShuffledHashJoin FullOuter" in p or "FullOuter" in p, p


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    # The fact scan must carry a runtime dynamicpruning subquery on the
    # partition column — the dim's Monday filter prunes fact directories
    # at execution time, not via a static predicate.
    p = _fmt(REGISTRY["q_dynamic_partition_pruning"].fn(spark, sf_dir))
    assert "dynamicpruning" in p.lower(), p


def test_spread_for_compute_only_repartitions_up(spark):
    # the flop-bound-stage spreader must be a structural no-op on frames
    # that already have enough splits (production row-group counts) and
    # must bring few-split scans up to the session core count
    from lab_etl_spark.operators.similarity import spread_for_compute

    few = spark.range(1000).coalesce(1)
    assert (
        spread_for_compute(few).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    many = spark.range(1000).repartition(64)
    assert spread_for_compute(many) is many  # identity, no new plan node


def test_kmeans_assignment_is_broadcast_map_only(spark, sf_dir):
    # Both Lloyd scoring passes must ride a broadcast of the collapsed
    # one-row centroid array (BroadcastNestedLoopJoin over 1 row) with
    # the argmin as a map-side array_min fold — a shuffled join or a
    # vec_id window here would move the POINTS, the k-means scale killer.
    import re

    p = _fmt(REGISTRY["q_kmeans_lloyd"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 2, p
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p
    assert "array_min" in p, p


def test_bpe_argmax_uses_heap_not_global_sort(spark, sf_dir):
    # The per-round top-pair pick must compile to TakeOrderedAndProject
    # (per-partition heaps + 1-row result), never a global Sort of the
    # pair-count table.
    p = _fmt(REGISTRY["q_bpe_train"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_interval_merge_single_data_shuffle(spark, sf_dir):
    # One user_id exchange serves the running max, island numbering, and
    # both aggregations; only the presentation orderBy may add a range
    # exchange on the per-user aggregate.
    import re

    p = _fmt(REGISTRY["q_interval_merge"].fn(spark, sf_dir))
    hash_ex = [
        ln
        for ln in p.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert len(hash_ex) <= 1, p


def test_semdedup_kmeans_assign_never_shuffles_points(spark, sf_dir):
    # kmeans_cells' assignment must be the broadcast one-row centroid
    # array + per-point array_min fold: no row_number window over a
    # scored n*k frame (with k ∝ n that shuffle is quadratic — the
    # round-9 honest-cold sf1 replay finding).  The only Window allowed
    # in the whole query is none at all; exchanges belong to the
    # seeding TakeOrdered, the Lloyd centroid update, the prune's
    # cell-keyed self-join, and the readout aggregates.
    p = _fmt(REGISTRY["q_semdedup_kmeans"].fn(spark, sf_dir))
    assert "Window" not in p, p
    assert "array_min" in p, p


def test_hierarchical_rollup_single_scan_grouping_sets(spark, sf_dir):
    # hour+day levels must come from ONE structural scan of raw events
    # via grouping sets over the minute partials — a union of separately
    # aggregated branches re-scans raw events per level (ReusedExchange
    # does not fire across the union's differently-canonicalized
    # branches; round-9 A/B).
    import re

    p = _fmt(REGISTRY["q_hierarchical_rollup"].fn(spark, sf_dir))
    # formatted mode prints each node in the tree AND the details
    # section — count the numbered detail entries, one per node
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Expand" in p, p
    assert "InMemoryTableScan" not in p, p  # no persist under cold policy


def test_minhash_verify_has_no_pair_shuffle(spark, sf_dir):
    # The exact-Jaccard verify must be the array_intersect form: one
    # doc_id-keyed aggregate over the semi-joined shingle stream, pair
    # joins against it — never the posting-list pair explosion, whose
    # shingle-keyed + pair-keyed shuffles dominated the cold pipeline
    # (round-9: 4.3 s -> 2.6 s).
    p = _fmt(REGISTRY["q_dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "array_intersect" in p, p
    # left_semi pushes the candidate set into the verify-side stream
    assert "LeftSemi" in p, p
