"""Physical-plan assertions: the optimizations the 100 TB design
depends on must actually appear in the executed plan — predicate
pushdown, column pruning, broadcast joins for dims, map-side partial
aggregation, top-k without a global sort, and no accidental cartesian
products. A regression here is a scale bug even when row counts stay
correct at test scale."""

from __future__ import annotations

import pytest

from nbi_oedi_etl_v2_spark import workload


def plan_of(spark, sf_dir, name: str) -> str:
    # all_specs, not queries(): plan pins must keep covering queries
    # demoted below the driver's 50-row correctness cap
    df = workload.all_specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_columns_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # shipdate predicate reaches the scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the 16-column table is pruned to the 7 referenced columns
    # (check the FileScan output list; ReadSchema renders truncated)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "l_shipdate#" in scan
    assert "l_orderkey" not in scan and "l_comment" not in scan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "nation_customer_rollup")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_saved_query_join_broadcasts_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "segment_active_customers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top10_orders_by_price")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_distinct_dedups_map_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "distinct_flags")
    # partial HashAggregate below the exchange, final above it
    assert plan.count("HashAggregate") == 2
    assert "Exchange hashpartitioning" in plan


def test_anti_and_semi_joins_planned_as_joins(spark, sf_dir):
    anti = plan_of(spark, sf_dir, "customers_without_orders")
    semi = plan_of(spark, sf_dir, "customers_with_open_orders")
    assert "LeftAnti" in anti and "CartesianProduct" not in anti
    assert "LeftSemi" in semi and "CartesianProduct" not in semi


@pytest.mark.parametrize(
    "op",
    ["minhash_lsh", "ngram_jaccard", "simhash"],
)
def test_dedup_joins_are_equi_joins(spark, sf_dir, op):
    # the entire point of LSH banding / prefix filtering: candidate
    # generation must be hash equi-joins, never a cross product.
    # Pins the RAW operators — the registered driver queries for the
    # sketch variants are verification wrappers that deliberately add
    # a brute-force twin at test scale (round 5), so pinning those
    # would pin the verifier, not the operator.
    from nbi_oedi_etl_v2_spark.operators import dedup
    from nbi_oedi_etl_v2_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = {
        "minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, threshold=0.8
        ),
        "ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.8
        ),
        "simhash": lambda: dedup.hamming_near_pairs(
            dedup.simhash(docs, "doc_id", "text"), "doc", "simhash", 3
        ),
    }[op]()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_corpus_scan_not_shuffled(spark, sf_dir):
    # brute-force top-k: queries broadcast; the only corpus-side
    # exchange is the final per-query window partitioning
    plan = plan_of(spark, sf_dir, "similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan  # != join on broadcast queries
    assert "SortMergeJoin" not in plan


def test_text_operators_are_map_only(spark, sf_dir):
    for name in ("text_quality_scores", "text_language_id", "text_fingerprint",
                 "text_token_stats"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} should not shuffle"


def test_hash_split_and_stratified_sample_map_only(spark, sf_dir):
    # membership is a row-local md5 predicate — any Exchange here
    # would mean the split re-deals data across the cluster
    for name in ("corpus_hash_split", "corpus_stratified_sample"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} should not shuffle"


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    # benchmark shingles broadcast → the 100 TB corpus side joins
    # without shuffling; only the per-doc count aggregate exchanges
    plan = plan_of(spark, sf_dir, "corpus_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_balanced_shards_one_shuffle_no_gather(spark, sf_dir):
    # the global rank must come from frozen-boundary buckets +
    # broadcast offsets: exactly ONE data shuffle (the per-bucket
    # window sort), never a plan-level gather onto one task and no
    # residual range exchange or checkpointed RDD from the old
    # two-shuffle formulation
    plan = plan_of(spark, sf_dir, "corpus_balanced_shards")
    assert "Exchange SinglePartition" not in plan
    # two hash exchanges: the per-bucket window sort, plus the query's
    # own per-shard summary aggregate (map-side combined — tiny)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange rangepartitioning" not in plan
    assert "ExistingRDD" not in plan


def test_quantile_rollup_broadcasts_estimates(spark, sf_dir):
    # the per-month estimate table is #months-sized — joining it back
    # to raw events for the in-plan rank check must broadcast, never
    # shuffle the fact side; sketch build/merge are the only
    # applyInPandas stages
    plan = plan_of(spark, sf_dir, "events_quantile_sketch_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mp4_box_walk_map_only_no_python(spark, sf_dir):
    # the ISO-BMFF box walk is pure JVM expressions (aggregate folds
    # over the hex image): no Python worker, and the staged
    # projections must not have been re-inlined into one exponential
    # expression tree (plan string stays bounded). r10 allows exactly
    # ONE exchange — the round-robin narrow-scan-funnel widen BELOW
    # the payload synthesis (it carries only doc_id/text, so the
    # multi-KB synthesized payload never crosses the wire; a wide
    # 100 TB input skips it entirely), same contract as the JPEG pin.
    plan = plan_of(spark, sf_dir, "multimodal_mp4_headers")
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "roundrobin" in plan.lower()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert len(plan) < 2_000_000


def test_multimodal_decode_map_only(spark, sf_dir):
    # Arrow-batched mapInPandas over the media rows — payloads must
    # never shuffle; any Exchange ABOVE a payload-producing operator
    # moves the (multi-MB) binary column across the cluster for no
    # reason. r10 allows exactly ONE exchange: the round-robin
    # narrow-scan-funnel widen of the PRE-payload rows (it sits below
    # every mapInPandas, so only ids/text cross the wire; a wide
    # 100 TB input skips it entirely). Plans print parent-first, so
    # "below every payload op" == every MapInPandas occurrence
    # appears before the Exchange in the string.
    plan = plan_of(spark, sf_dir, "multimodal_decode")
    assert "MapInPandas" in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "roundrobin" in plan.lower()
        assert plan.rfind("MapInPandas") < plan.find("Exchange")


def test_embedding_normalize_map_only_arrow(spark, sf_dir):
    # pandas_udf L2 normalize: one Arrow eval, no shuffle of vectors
    plan = plan_of(spark, sf_dir, "embedding_normalize")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_asof_join_no_range_explosion(spark, sf_dir):
    # the union + running-last-value as-of formulation: one hash
    # shuffle on the key and a sort within partitions — never a
    # per-row range probe (nested loop) or cartesian
    plan = plan_of(spark, sf_dir, "asof_last_order_per_event")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange hashpartitioning" in plan


def test_q3_join_topk_plan(spark, sf_dir):
    # fact×fact equi-join + broadcast dim; date filters reach the
    # scans; top-10 never global-sorts
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThan(l_shipdate" in plan  # pushdown on the fact scan


def test_q5_pushdown_and_no_cartesian(spark, sf_dir):
    # six-way join: date+region filters reach the scans; the
    # same-nation residual must ride an equi-join, never a cartesian;
    # constant dims (nation/region) broadcast
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed date filter
    assert "EqualTo(r_name,ASIA)" in plan  # pushed region filter
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # map-side combine on revenue


def test_q18_single_fact_scan_and_topk(spark, sf_dir):
    # r5 rework: the per-order HAVING aggregate IS the output
    # aggregate (group keys are functionally dependent on orderkey),
    # so lineitem is scanned ONCE with a map-side partial sum and the
    # joins touch only the surviving keyset — the old semi-join shape
    # scanned the fact twice and re-aggregated it post-join (9.4x at
    # 10x data under honest forcing; 1.0x now). Top-100 must use
    # per-partition heaps, not a global sort.
    plan = plan_of(spark, sf_dir, "q18_large_volume_customers")
    assert plan.count("lineitem.parquet") == 1  # one fact scan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "partial_sum" in plan


def test_pack_chunks_exactly_one_shuffle(spark, sf_dir):
    # the global prefix sum rides frozen-boundary buckets + broadcast
    # offsets: one hash exchange for the per-bucket window, nothing
    # else — a single-task gather OR a second (range) exchange is the
    # scale bug this operator exists to avoid
    plan = plan_of(spark, sf_dir, "corpus_pack_chunks")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "ExistingRDD" not in plan


def test_global_shuffle_exactly_one_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "corpus_global_shuffle")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_mixture_sample_broadcasts_fractions(spark, sf_dir):
    # per-source fractions (#sources rows) broadcast back onto the
    # corpus: the corpus side must not shuffle for the join, and the
    # keep predicate stays row-local
    plan = plan_of(spark, sf_dir, "corpus_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_pack_next_fit_one_shuffle_then_pandas(spark, sf_dir):
    # exactly the group-by-shard exchange feeding FlatMapGroupsInPandas
    # — next-fit's sequential fold runs Arrow-batched per shard
    plan = plan_of(spark, sf_dir, "corpus_pack_next_fit")
    assert "FlatMapGroupsInPandas" in plan
    assert "Exchange SinglePartition" not in plan


def test_q7_dims_broadcast_no_cartesian(spark, sf_dir):
    # the OR'd nation-pair predicate must stay dim-side (broadcast) —
    # an OR across join inputs degrading to a nested loop would be
    # the classic Q7 planning failure
    plan = plan_of(spark, sf_dir, "q7_volume_shipping")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_q10_topk_heap_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "EqualTo(l_returnflag,R)" in plan  # flag filter pushed to scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_lm_scores_vocab_heap_and_broadcast(spark, sf_dir):
    # top-V vocab must come from a distributed TakeOrdered heap (a
    # global sort of the corpus vocabulary would be the 100 TB bug)
    # and join back broadcast so per-token rows never shuffle for it
    plan = plan_of(spark, sf_dir, "text_lm_scores")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_equi_joins_only(spark, sf_dir):
    # bipartite prefix filter + within-batch AllPairs: candidate
    # generation must stay hash equi-joins — a cartesian or nested
    # loop here is the quadratic blowup the prefix filter exists to
    # prevent
    plan = plan_of(spark, sf_dir, "corpus_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_json_rollup_parses_once(spark, sf_dir):
    # the props JSON string must be parsed by ONE JsonToStructs
    # projection feeding all four aggregates — per-aggregate
    # get_json_object would parse each row three times (Catalyst does
    # not guarantee CSE across aggregate expressions)
    plan = plan_of(spark, sf_dir, "events_json_props_rollup")
    assert plan.count("from_json") == 1, plan
    assert "get_json_object" not in plan


def test_bm25_broadcasts_stats_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_bm25_topk")
    # the scalar stats row and the per-term df table join broadcast;
    # the single no-condition join (stats attach) must be a broadcast
    # nested loop over ONE row, never a cartesian product
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # top-k is a heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_duplicate_spans_single_equi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_duplicate_spans")
    # window-hash stats join back per occurrence — equi-join only;
    # a shared window must never expand into pairwise rows
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_joins_stay_on_user_key(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_funnel")
    assert "CartesianProduct" not in plan
    # the only no-condition join is the 1-row base-count attach
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_inverted_index_two_aggregates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_inverted_index")
    # (tok, doc) tf agg + per-token assembly, each partial+final;
    # no joins at all
    assert "Join" not in plan
    assert "Exchange hashpartitioning" in plan


def test_vocabulary_partial_agg_and_heap_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_vocabulary")
    # vocabulary-sized shuffle: partial aggregation below the exchange
    assert "partial_count" in plan
    # top-n via per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_token_pmi_equi_joins_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_token_pmi")
    # pair generation re-keys positions — must stay equi-join; the
    # only (deliberate) non-equi element is the 1-row n_total
    # broadcast nested loop
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_scd2_reuses_one_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_scd2_priority")
    # both window passes partition on o_custkey: one hash exchange
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 1
    assert "CartesianProduct" not in plan


def test_cdc_merge_single_outer_equi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_cdc_merge")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_semantic_dedup_broadcasts_only_centroids(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "embedding_semantic_dedup")
    # the intra-cluster prune is an equi-join on cid; the only
    # nested-loop element is the deliberate k-row centroid cross
    # join, recomputed once per consumer of the assignment (a-side,
    # b-side, output) — each is a map-only broadcast pass, no shuffle
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoop") <= 3


def test_triangles_equi_joins_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "part_copurchase_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_anomaly_zscore_single_window_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_anomaly_zscore")
    # one user exchange feeding one sorted window operator
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Window") == 1


def test_fuzzy_join_no_cross_product(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customer_fuzzy_name_pairs")
    # candidate generation must stay an equi-join on the gram key;
    # levenshtein runs only post-join on candidates. The one allowed
    # nested loop is the short-string bucket (length < q + max_dist):
    # its constant join key folds away, and the block is pushed-down
    # filtered to near-empty on any real corpus
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_skyline_no_single_partition_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_skyline")
    # the sweep must stay bucketed: no SinglePartition exchange, no
    # quadratic dominance self-join
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_pattern_users_single_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_pattern_users")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "partial_collect_list" in plan  # map-side partial collect


def test_gapfill_interp_single_window_pass(spark, sf_dir):
    """All four bracketing window functions (prev/next value+hour)
    share one partition/order spec, so Catalyst must collapse them
    into ONE Window node over ONE sort — four separate window passes
    would pay 4× the entity exchange at 100 TB."""
    plan = plan_of(spark, sf_dir, "etl_gapfill_interp")
    assert plan.count("Window ") + plan.count("Window\n") <= 2  # node + possible AQE echo
    # the real pin: a single physical Window operator line
    lines = [l for l in plan.splitlines() if l.lstrip("+-: *").startswith("Window")]
    assert len(lines) == 1, lines
    assert "CartesianProduct" not in plan


def test_price_trend_is_one_aggregate(spark, sf_dir):
    """All six regression moments ride ONE map-side-combined hash
    aggregate: exactly one data exchange, partial+final agg pair."""
    plan = plan_of(spark, sf_dir, "lineitem_price_trend")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "Exchange SinglePartition" not in plan


def test_hll_rollup_shuffles_sketches_not_keys(spark, sf_dir):
    """Two aggregate stages (daily sketch build, union rollup), both
    map-side combined — the rollup's shuffle carries partial sketches,
    never user ids. Pins the RAW sketch path (the registered driver
    query is a verification wrapper that adds an exact count-distinct
    twin, round 5)."""
    import pyspark.sql.functions as F

    from nbi_oedi_etl_v2_spark.operators import sketches
    from nbi_oedi_etl_v2_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = sketches.build_sketches(
        ev.withColumn("day", F.to_date("ts")), "user_id", ["event_type", "day"]
    )
    rolled = sketches.rollup_sketches(daily, ["event_type"])
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_hll_sketch_agg" in plan  # map-side sketch build
    assert "partial_hll_union_agg" in plan  # map-side sketch merge


def test_skipping_index_scan_is_pruned(spark, tmp_path):
    """The zone-map build must read ONLY the indexed columns."""
    import pyspark.sql.functions as F

    from nbi_oedi_etl_v2_spark.sources import skipping

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("a"), F.col("id").alias("b"), F.col("id").alias("c")
    ).write.parquet(path)
    idx = skipping.build_skipping_index(spark, path, ["a"])
    plan = idx._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "a#" in scan
    assert "b#" not in scan and "c#" not in scan


def test_rank_topk_operators_use_window_group_limit(spark, sf_dir):
    """rank≤k must run as per-partition top-k heaps, never full group
    sorts: Spark's WindowGroupLimit (grouped) or TakeOrderedAndProject
    (global, k-row merge) must appear in the physical plan, so a Spark
    upgrade or expression change can't silently revert to sorting
    whole groups (VERDICT r3 item 7)."""
    from nbi_oedi_etl_v2_spark.operators import curation
    from nbi_oedi_etl_v2_spark.tables import load_table

    for name in ("topk_per_segment", "corpus_weighted_reservoir"):
        plan = plan_of(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan, name
    docs = load_table(spark, sf_dir, "documents")
    global_plan = (
        curation.weighted_reservoir_sample(
            docs, "doc_id", "n_chars", k=10, group_col=None
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # ungrouped: Catalyst collapses the single-partition window into
    # TakeOrderedAndProject — per-partition heaps, k-row driver merge
    assert "TakeOrderedAndProject" in global_plan


def test_interval_join_is_equi_join(spark, sf_dir):
    """The bucketed time-range join must run as a shuffled equi-join
    on (key, bucket) — never a cartesian product or broadcast
    nested-loop theta join."""
    plan = plan_of(spark, sf_dir, "events_interval_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_aggregates_candidates_only(spark, sf_dir):
    """The exact verify pass must semi-join against the broadcast
    candidate set (bounded key space), not hash-aggregate the raw
    key column unrestricted."""
    plan = plan_of(spark, sf_dir, "events_heavy_hitters")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_cm_rollup_pure_jvm_and_broadcast_probe(spark, sf_dir):
    # the Count-Min path is pure JVM whole-stage codegen — no Python
    # worker anywhere in the plan (xxhash64 bucketing, SUM merge,
    # equi-join lookup) — and the probe side of the lookup joins
    # broadcast, never shuffling the sketch table against it
    plan = plan_of(spark, sf_dir, "events_cm_frequency_rollup")
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_word_table_and_fold_pure_jvm(spark, sf_dir):
    # the BPE trainer's per-step workhorses — pair explode+agg and the
    # merge fold — must stay whole-stage-codegen JVM: no Python worker
    from nbi_oedi_etl_v2_spark.operators import bpe
    from nbi_oedi_etl_v2_spark.tables import load_table
    from pyspark.sql import functions as F

    words = bpe.word_counts(load_table(spark, sf_dir, "documents"), "text")
    pairs = words.select(
        "cnt",
        F.explode(
            F.expr(
                "CASE WHEN size(syms) >= 2 THEN"
                " transform(sequence(0, size(syms) - 2),"
                " i -> struct(syms[i] as l, syms[i + 1] as r))"
                " ELSE array() END"
            )
        ).alias("p"),
    ).groupBy("p.l", "p.r").agg(F.sum("cnt"))
    merged = words.withColumn(
        "syms", bpe._merge_fold([("t", "h")])(F.col("syms"))
    )
    for df in (pairs, merged):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            assert marker not in plan


def test_ivm_delta_terms_broadcast(spark, sf_dir):
    # the three delta-maintenance terms broadcast their delta-sized
    # side; nothing in the decomposition falls back to a shuffled join
    plan = plan_of(spark, sf_dir, "orders_ivm_join_delta")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pit_lookup_is_join_free(spark, sf_dir):
    # the point-in-time interval lookup runs as union + window (one
    # keyed sort), NOT as any physical join — the theta join is only
    # in the oracle
    plan = plan_of(spark, sf_dir, "events_pit_priority_lookup")
    for marker in ("SortMergeJoin", "BroadcastHashJoin",
                   "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                   "CartesianProduct"):
        assert marker not in plan
    assert "Window" in plan


def test_dq_suite_single_scan_per_role(spark, sf_dir):
    # 5-constraint suite = exactly 3 FileScans: one wide-agg scan of
    # the fact (all row-level + uniqueness checks share it, unpivoted
    # by explode — the union-of-selects formulation replayed it per
    # branch), one fact scan + one dim scan for the FK anti-join
    plan = plan_of(spark, sf_dir, "orders_dq_constraints")
    assert plan.count("FileScan parquet") == 3


def test_runtime_bloom_filter_join_injects(spark, sf_dir):
    # Catalyst's runtime bloom-filter join (Spark 3.3+): when the
    # creation side is selective and the application side shuffles,
    # the optimizer injects bloom_filter_might_contain into the fact
    # scan — rows failing a KB-sized bitset never enter the shuffle.
    # At 100 TB this is the free semi-join reduction; the engine
    # relies on it for selective dim joins, so pin that this Spark
    # build actually injects it under shuffle-join conditions.
    from nbi_oedi_etl_v2_spark.tables import load_table
    from pyspark.sql import functions as F

    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_dynamic_partition_pruning_injects(spark, sf_dir, tmp_path):
    # DPP: joining a partitioned fact on its partition column against
    # a filtered dim must add a dynamicpruningexpression to the scan's
    # PartitionFilters — at 100 TB the fact reads only the partitions
    # the dim's runtime values name, without a static predicate.
    from nbi_oedi_etl_v2_spark.tables import load_table
    from pyspark.sql import functions as F

    path = str(tmp_path / "orders_by_prio")
    load_table(spark, sf_dir, "orders").withColumn(
        "prio", F.col("o_orderpriority")
    ).write.partitionBy("prio").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "customer")
        .withColumn(
            "prio",
            F.when(F.col("c_custkey") % 2 == 0, "1-URGENT").otherwise(
                "2-HIGH"
            ),
        )
        .where(F.col("c_mktsegment") == "BUILDING")
    )
    j = fact.join(dim, "prio").groupBy("prio").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()


def test_bloom_anti_join_fast_path_structure(spark, sf_dir):
    # the two-path plan: exactly ONE join (the candidate verify anti
    # join) — the definite-absent branch is a map-only filter over the
    # literal bitset, never a join — and the whole thing stays JVM
    plan = plan_of(spark, sf_dir, "customer_bloom_inactive")
    joins = [l for l in plan.splitlines()
             if "Join LeftAnti" in l or "BroadcastHashJoin" in l
             or "SortMergeJoin" in l]
    anti = [l for l in joins if "LeftAnti" in l]
    assert len(anti) == 1
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    # the probe relation is scanned twice (definite + candidate
    # branches) but only the candidate branch reaches an exchange
    assert plan.count("xxhash64") >= 3  # k=3 probe positions inline


def test_association_rules_no_item_self_join(spark, sf_dir):
    # pair generation happens IN-ROW (nested transform over the sorted
    # basket set) — the item table must never self-join; the only
    # joins are the broadcast support attaches and the dim broadcast
    plan = plan_of(spark, sf_dir, "lineitem_association_rules")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_bpe_encode_vocab_sized_folds(spark, sf_dir):
    # the merge folds run on the DISTINCT-WORD table only: the plan
    # carries one distinct aggregate below the fold projection, and
    # everything is whole-stage JVM (no Python workers)
    plan = plan_of(spark, sf_dir, "documents_bpe_token_counts")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "CartesianProduct"):
        assert marker not in plan


def test_kmeans_assign_pure_jvm_one_agg_per_round(spark, sf_dir):
    # the final assignment under fixed centroids must be map-only JVM
    # (no Python workers, no join); the summary's only joins are the
    # broadcast size attach
    from nbi_oedi_etl_v2_spark.operators import cluster
    from nbi_oedi_etl_v2_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = cluster._seed_centroids(emb, "vec_id", "embedding", 4)
    assigned = cluster.assign_clusters(emb, "embedding", cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ols_single_pass_partial_agg(spark, sf_dir):
    # one aggregation, map-side combined; no second scan of lineitem
    plan = plan_of(spark, sf_dir, "lineitem_ols_price_model")
    assert plan.count("FileScan") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_labelprop_round_is_keyed_joins_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "part_copurchase_labelprop")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ols2_single_pass_partial_agg(spark, sf_dir):
    # nine sufficient statistics in ONE scan, map-side combined
    plan = plan_of(spark, sf_dir, "lineitem_ols2_price_model")
    assert plan.count("FileScan") == 1
    assert "partial_sum" in plan


def test_sssp_round_is_keyed_joins_no_cartesian(spark, sf_dir):
    # the spec's returned frame is the final localCheckpoint scan
    # (rounds ran eagerly), so pin the negatives there...
    plan = plan_of(spark, sf_dir, "part_copurchase_sssp")
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # ...and the positive shape on one hand-built relaxation round:
    # keyed equi-join + a min that map-side combines
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1)], "src long, dst long, w long"
    )
    dist = spark.createDataFrame([(1, 0)], "node long, dist long")
    relaxed = e.join(dist, e["src"] == dist["node"]).select(
        F.col("dst").alias("node"), (dist["dist"] + F.col("w")).alias("dist")
    )
    rnd = (
        dist.unionByName(relaxed)
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )
    round_plan = rnd._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in round_plan
    assert "CartesianProduct" not in round_plan


def test_agms_sketch_is_map_side_folded(spark, sf_dir):
    # 64 signed counters per side fold BEFORE any exchange, the exact
    # twin group-counts partial-aggregate, and nothing goes cartesian
    # (the two 1-row sketch joins plan as broadcast nested loops)
    plan = plan_of(spark, sf_dir, "orders_lineitem_join_size_agms")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan and "partial_count" in plan
    assert plan.count("FileScan") <= 4  # 2 sides x (sketch + exact twin)


def test_dp_release_is_one_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_dp_noised_counts")
    assert plan.count("FileScan") == 1
    assert "partial_count" in plan        # map-side combine
    assert "Join" not in plan             # noise is a map expression
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan         # md5/conv/ln stay JVM-side


def test_hourly_anomalies_profile_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_hourly_anomalies")
    assert "BroadcastHashJoin" in plan    # 24-row profile, never shuffled
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan          # moment sums map-side combine


def test_winsorize_is_map_only_after_cuts(spark, sf_dir):
    # the labeling pass: one scan, no join, no shuffle of data rows
    # (the radix cut-point passes run eagerly inside the query fn)
    plan = plan_of(spark, sf_dir, "lineitem_winsorized_prices")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Exchange" not in plan


def test_random_projection_is_map_only(spark, sf_dir):
    # JL projection must be a pure narrow projection: one scan, zero
    # exchanges of any kind — the fold runs where the data sits.
    plan = plan_of(spark, sf_dir, "embeddings_random_projection")
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_stump_split_histogram_shape(spark, sf_dir):
    # The data-sized path is ONE scan unpivoted map-side and combined
    # into per-partition histograms before the shuffle; the gain
    # windows and argmax run histogram-sized. No sort-merge join, no
    # cartesian on data-sized inputs (the 1-row stats join is a
    # broadcast).
    plan = plan_of(spark, sf_dir, "lineitem_stump_splits")
    assert "partial_sum" in plan and "partial_count" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats side


def test_rrf_fusion_is_union_plus_one_agg(spark, sf_dir):
    # The fusion itself must not plan an outer join of the ranked
    # lists: union + hash aggregate with map-side partial_sum, and
    # the final cut is a TakeOrdered, never a global sort.
    plan = plan_of(spark, sf_dir, "text_hybrid_rrf_topk")
    assert "Union" in plan
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_markov_single_data_sized_shuffle(spark, sf_dir):
    # One user-keyed exchange feeds the lag window; everything after
    # the (prev,next) aggregate is |states|^2-sized. The aggregate
    # must combine map-side.
    plan = plan_of(spark, sf_dir, "events_markov_transitions")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_nb_logodds_vocab_sized_tail(spark, sf_dir):
    # one tokenize scan feeds the token aggregate (map-side combined);
    # totals broadcast back; final cut is a TakeOrdered, no global sort
    plan = plan_of(spark, sf_dir, "documents_nb_token_logodds")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_cusum_single_keyed_shuffle(spark, sf_dir):
    # the prefix-sum rewrite buys ONE exchange: both running windows
    # share the (event_type) partitioning; the alert summary agg is
    # partial-aggregated on the same key, so no second data exchange
    plan = plan_of(spark, sf_dir, "events_cusum_changepoints")
    assert plan.count("Exchange hashpartitioning") <= 2  # window + agg reuse
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_table_profile_one_expand_one_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_table_profile")
    assert plan.count("Expand") == 1          # p count-distincts fold
    assert plan.count("FileScan") == 1        # ONE pass over the table
    assert "partial_count" in plan            # map-side combine


def test_table_profile_approx_mode_has_no_expand(spark, sf_dir):
    """exact_ndv=False (VERDICT r7 'What's missing' #4): the HLL
    sketches must ride the same single partial-aggregate pass as the
    min/max stats — no Expand fan-out, no per-value shuffle rows."""
    from nbi_oedi_etl_v2_spark.operators.quality import table_profile
    from nbi_oedi_etl_v2_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    approx = table_profile(orders, exact_ndv=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert plan.count("FileScan") == 1
    assert "approx_count_distinct" in plan
    # and the estimates are inside HLL++ default tolerance of exact
    exact_rows = {r.column: r for r in table_profile(orders).collect()}
    for r in approx.collect():
        e = exact_rows[r.column]
        assert (r.n_rows, r.n_nulls) == (e.n_rows, e.n_nulls)
        assert (r.min_num, r.max_num, r.min_str, r.max_str) == (
            e.min_num, e.max_num, e.min_str, e.max_str
        )
        if e.ndv:
            assert abs(r.ndv - e.ndv) <= max(2, 0.1 * e.ndv), r.column


def test_triplet_mining_broadcast_lookup_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "embeddings_triplet_mining")
    # the negatives come from a broadcast bucket-min table, and the
    # three vector joins stay keyed — never an all-pairs product
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_bootstrap_map_side_combined_replicates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "lineitem_bootstrap_mean_ci")
    # the B-replicate fan-out must partial-aggregate BEFORE the
    # shuffle (B x partitions partial rows, not B x N data rows)
    assert "partial_sum" in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_kcore_round_broadcast_semi_joins(spark, sf_dir, graph_rounds):
    # r10: at the fixed point kcore returns the last round's
    # checkpointed (node, degree) state — survivors(t) ⊆
    # survivors(t−1), so equal counts imply the equal set and the
    # in-loop degrees ARE the within-core degrees. The returned plan
    # must therefore be a bare checkpoint scan: no FileScan (the old
    # final pass re-derived the by-then-unpersisted edge table from
    # parquet at force time) and no join.
    plan = plan_of(spark, sf_dir, "part_copurchase_kcore")
    assert "ExistingRDD" in plan
    assert "FileScan" not in plan and "Join" not in plan
    # the in-loop shape is captured per round where the round ends in
    # graph.checkpoint (the checkpoint erases it from the returned
    # plan): survivor sets broadcast into the semi-joins (auto rule),
    # so the persisted edge table is never re-shuffled in the loop
    from nbi_oedi_etl_v2_spark.operators import graph
    from nbi_oedi_etl_v2_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    graph_rounds.clear()
    graph.kcore(graph.copurchase_edges(li), k=80)
    probe = [plan for _, plan in graph_rounds]
    assert len(probe) >= 2  # round 1 is unfiltered; ≥1 filtered round
    for loop_plan in probe[1:]:
        assert "BroadcastHashJoin" in loop_plan and "LeftSemi" in loop_plan
        assert "CartesianProduct" not in loop_plan


def test_conformal_coverage_is_one_litfit_scan(spark, sf_dir):
    # fit + calibration quantile are collected during construction
    # (bounded driver state: 2 coefficients + 1 cut); the RETURNED
    # plan must be one literal-parameter scan + partial-aggregated
    # coverage count — no join, no second pass
    plan = plan_of(spark, sf_dir, "lineitem_conformal_interval")
    assert "partial_count" in plan
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_neyman_broadcasts_allocation_no_data_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_neyman_sample")
    # the strata allocation table joins back by BROADCAST; data rows
    # are never re-keyed before the per-stratum accounting aggregate
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hashed_features_map_side_combined(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "documents_hashed_features")
    assert "partial_sum" in plan        # (doc, feature) combine
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("FileScan") == 1


def test_seasonal_backtest_keyed_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_seasonal_naive_backtest")
    assert "partial_sum" in plan        # hourly grid combines map-side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_kaplan_meier_single_scan_to_duration_table(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_kaplan_meier_churn")
    # one pass to the per-user span aggregate; windows run over the
    # distinct-duration table, not raw events
    assert "partial_min" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_woe_iv_one_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_woe_iv_priority")
    assert "partial_sum" in plan
    assert plan.count("FileScan") == 1


def _final_plan_scan_count(spark, sf_dir, name: str) -> int:
    """Raw-table scan count in the EXECUTED AQE final plan. The
    formatted explain also prints the pre-AQE 'Initial Plan' section,
    which triples node counts (the r10 lesson) — split it off first."""
    import contextlib
    import io
    import re

    df = workload.all_specs()[name].fn(spark, sf_dir)
    df.collect()  # materialize so AQE settles the final plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    final = buf.getvalue().split("== Initial Plan ==")[0]
    return len(re.findall(r"\bScan parquet\b", final))


def test_rank_statistics_scan_counts(spark, sf_dir):
    # r10 A/B-decided shape: TWO column-pruned raw scans per
    # two-sample test (totals from dist + the prefix branch). The
    # tempting "single-scan" alternative (totals via max(p_c) off the
    # prefix) re-runs the whole prefix machinery per consumer — 3×
    # the range-exchange/window/guard-join work, measured ~50% slower
    # warm at sf0.1 on near-unique keys. A THIRD scan would mean a
    # new pruning divergence crept into a consumer; pin <= 2.
    assert _final_plan_scan_count(spark, sf_dir, "orders_ks_price_drift") <= 2
    assert (
        _final_plan_scan_count(spark, sf_dir, "orders_mannwhitney_price_drift")
        <= 2
    )
    # collapsed agg-over-agg / not-null filter pushed below the
    # groupBy — 2 column-pruned scans is the intended shape here too
    assert _final_plan_scan_count(spark, sf_dir, "orders_kruskal_priority") <= 2
    assert (
        _final_plan_scan_count(spark, sf_dir, "lineitem_spearman_qty_price")
        <= 2
    )


def test_wave31_inference_scan_counts(spark, sf_dir):
    # anova: one cells aggregate consumed twice (rows + totals) — two
    # column-pruned scans; a third would mean the totals pass grew a
    # fresh derivation.
    assert _final_plan_scan_count(spark, sf_dir, "orders_anova_priority") <= 2
    # brown-forsythe: the r10 final-plan A/B adjudicated FIVE scans
    # (totals + gtot + the prefix pair + the deviation fold) as the
    # winning shape — the pref-rooted deviation join measured SIX
    # (its prefix subtree does not stage-reuse; pruning diverges).
    assert _final_plan_scan_count(spark, sf_dir, "orders_levene_priority") <= 5
    # log-rank: the MWU totals-from-dist precedent plus the prefix
    # pair over the distinct-duration table.
    assert _final_plan_scan_count(spark, sf_dir, "events_logrank_arms") <= 4


def test_bh_fdr_ranks_ride_the_range_exchange(spark, sf_dir):
    # the BH step-up must rank p-values through the distributed
    # range exchange of two_level_prefix, never a single-partition
    # global sort of the m-row score table. SinglePartition nodes DO
    # legitimately appear (1-row totals, P-row chunk-offset windows
    # inside the prefix scan) — the pin is the POSITIVE one: the
    # distinct-p table goes through rangepartitioning on _p.
    plan = plan_of(spark, sf_dir, "orders_bh_fdr_customers")
    final = plan.split("== Initial Plan ==")[0]
    assert "rangepartitioning(_p" in final
    # and the m-row score table is never Sort-ed globally: every Sort
    # node in the final plan is per-chunk (local, preceded by the
    # range exchange) or inside the bounded offset window
    assert "GlobalLimit" not in final or "Sort" not in final
