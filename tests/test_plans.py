"""Physical-plan shape regressions: the properties that make the suite
scale (filter pushdown into the parquet scan, column pruning, broadcast
of small sides, semi/anti join strategies) asserted on the optimized /
executed plans, so a refactor that silently loses one fails CI, not the
100 TB run.
"""

from __future__ import annotations

import pytest

from platform_etl_literature_spark.suite import SUITE


def _formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    """The shipdate filter must reach the parquet scan and the scan must
    not read columns the query never touches."""
    plan = _formatted_plan(SUITE["pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], plan[:4000]
    # column pruning: the widest lineitem columns are not in ReadSchema
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema


def test_broadcast_rank_lut_broadcasts(spark, sf_dir):
    plan = _simple_plan(SUITE["broadcast_rank_lut"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:3000]


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = _simple_plan(SUITE["semi_join"].fn(spark, sf_dir))
    anti = _simple_plan(SUITE["anti_join"].fn(spark, sf_dir))
    assert "LeftSemi" in semi, semi[:3000]
    assert "LeftAnti" in anti, anti[:3000]


def test_ann_broadcasts_query_side(spark, sf_dir):
    """Brute-force cosine top-k must broadcast the (small) query set,
    never shuffle the corpus against it."""
    plan = _simple_plan(SUITE["ann_cosine_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:3000]


def test_doc_profile_single_scan_single_tokenize(spark, sf_dir):
    """The full text profile must be one projection over one scan — the
    only exchange allowed is the deliberate round-robin fan-out of the
    single-row-group scan (raw scan columns, before any derived work),
    and exactly one split() of the text column (the tokenize-once
    contract; a regression here multiplies corpus CPU by ~7)."""
    df = SUITE["doc_profile"].fn(spark, sf_dir)
    plan = _simple_plan(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 1, plan[:3000]
    for ln in exchanges:  # no data-dependent shuffle, only the scan fan-out
        assert "RoundRobinPartitioning" in ln and "REPARTITION_BY_NUM" in ln, plan[:3000]
    assert plan.count("split(text") <= 1, plan[:3000]


def test_whole_stage_codegen_covers_relational_core(spark, sf_dir):
    """The relational-core queries must run inside whole-stage codegen
    (a Python/interpreted stage in the hot path would show up here)."""
    for name in ("pricing_summary", "top1_per_group", "grouped_json"):
        df = SUITE[name].fn(spark, sf_dir)
        df.collect()  # AQE only finalizes (and codegens) the plan on execution
        plan = _simple_plan(df)
        # codegen stages print as "*(n) Operator" in the simple format
        assert "*(" in plan, f"{name}: {plan[:2000]}"
        assert "BatchEvalPython" not in plan, f"{name}: {plan[:2000]}"


def test_aggregations_are_partial_first(spark, sf_dir):
    """groupBy aggregations must map-side combine (partial_*) before the
    shuffle — the property that keeps shuffle volume proportional to
    group count, not row count, at 100 TB."""
    df = SUITE["pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = _simple_plan(df)
    assert "partial_sum" in plan or "partial_count" in plan, plan[:3000]


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set must broadcast (eval suites are tiny vs
    the corpus) and the corpus side must tokenize exactly once — one
    corpus-side scan feeding one explode, one map-side-combining agg."""
    plan = _simple_plan(SUITE["decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert plan.count("FileScan") == 2  # corpus once + benchmark once
    assert "partial_count" in plan, plan[:3000]


def test_bloom_decontaminate_corpus_side_is_map_only(spark, sf_dir):
    """The Bloom probe must be pure map-side on the corpus: the filter
    rides a one-row BroadcastNestedLoopJoin and the ONLY corpus-side
    exchange is the per-document aggregation's (which map-side
    combines) — no gram shuffle, no hash-set join."""
    plan = _simple_plan(SUITE["bloom_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "partial_count" in plan, plan[:3000]


def test_mixture_sample_is_map_side(spark, sf_dir):
    """Mixture sampling must be shuffle-free on the corpus: a broadcast
    rate-table join and a filter, no Exchange on the fact side."""
    plan = _simple_plan(SUITE["mixture_sample"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side, plan[:3000]


def test_vocab_coverage_single_corpus_scan(spark, sf_dir):
    """The global total must come from the vocabulary-sized aggregate,
    not a second scan of the corpus.  The cached range-partitioned
    rank table embeds an AQE '== Initial Plan ==' echo of its own scan
    in the plan text — count scans in the executed section only."""
    plan = _simple_plan(SUITE["vocab_coverage"].fn(spark, sf_dir))
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1, plan[:3000]


def test_no_single_reducer_rank_window(spark, sf_dir):
    """Global token ranks (the PPJoin rare-first prefix order, the Zipf
    vocabulary rank + running coverage) must come from the
    range-partitioned zipWithIndex (operators.ranking) — never an
    unpartitioned row_number/sum window, which is a single-reducer sort
    of the whole vocabulary.  No Exchange SinglePartition anywhere in
    either plan."""
    for name in (
        "prefix_jaccard",
        "vocab_coverage",
        "sorted_neighborhood",
        "suffix_dedup",
    ):
        plan = _simple_plan(SUITE[name].fn(spark, sf_dir))
        assert "SinglePartition" not in plan, (name, plan[:3000])


def test_cms_heavy_hitters_plan(spark, sf_dir):
    """The count-min grid must BROADCAST to the candidate probe (the
    grid is ≤ d·w cells by construction — sketch-sized, never
    corpus-sized) and the top-k must compile to TakeOrderedAndProject,
    not a global sort."""
    plan = _simple_plan(SUITE["cms_heavy_hitters"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_bpe_encode_vocab_compacted_plan(spark, sf_dir):
    """The frozen-tokenizer encode must fold once per distinct word and
    broadcast the encoded vocabulary back: the occurrence stream takes
    a BroadcastHashJoin (never a shuffled join), and the only hash
    exchanges are the vocabulary distinct and the per-doc aggregation —
    both map-side-combined."""
    plan = _simple_plan(SUITE["bpe_encode"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]


def test_quality_ops_are_pure_map_side(spark, sf_dir):
    """The per-document quality signals (char-class entropy, the frozen
    logistic classifier) must compile to scan + project only — no
    Exchange anywhere: at 100 TB these run embarrassingly parallel or
    they don't run."""
    for name in ("char_entropy", "quality_logreg"):
        plan = _simple_plan(SUITE[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, (name, plan[:3000])


def test_cdc_dedup_digest_keyed_exchanges_only(spark, sf_dir):
    """CDC chunking is map-side HOF arithmetic; the only shuffles in
    the dedup stats are the count(DISTINCT id) expansion's standard
    two-phase aggregation — one exchange on (digest, id), one on
    digest — each fed by a map-side partial combine.  No join, no
    document-shaped shuffle, nothing else."""
    plan = _simple_plan(SUITE["cdc_chunk_dedup"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan[:3000]
    assert "partial_count" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    """Document frequency must come from a window over the tf aggregate,
    not a second tokenizing scan of the corpus: at most the text scan
    plus the metadata-only count-star scan."""
    plan = _simple_plan(SUITE["tfidf_terms"].fn(spark, sf_dir))
    assert plan.count("FileScan") <= 2, plan[:3000]
    assert plan.count("Generate explode") == 1, plan[:3000]


def test_window_dup_stats_single_scan_no_join(spark, sf_dir):
    """The substring-dup signal must stay a single corpus scan with no
    self-join: document frequency comes from a Window over the hash,
    so a refactor back to groupBy+join (which re-derives the exploded
    stream and scans the corpus twice) fails here."""
    plan = _simple_plan(SUITE["window_dup_stats"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan[:3000]
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, plan[:3000]
    assert "Window" in plan, plan[:3000]


def test_semantic_dedup_groups_once_no_join(spark, sf_dir):
    """The SemDeDup kernel must be ONE exchange on the cluster key into
    the grouped-map matmul — no pair join, no second corpus scan: a
    refactor back to the cluster self-join (which shuffles the corpus
    twice and scores pairs row-at-a-time) fails here."""
    plan = _simple_plan(SUITE["semantic_dedup"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan[:3000]
    assert plan.count("Scan parquet") == 1, plan[:3000]
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, plan[:3000]


def test_scrub_dup_passages_partial_agg_no_sort_window(spark, sf_dir):
    """The passage scrub's first-occurrence winner must be a map-side-
    combined min(struct) hash aggregate on the digest — NEVER the
    round-4 row_number window, which sorted every copy of every hot
    passage through one reducer (the 16x scaling cliff).  Shape: zero
    Windows, a partial_min, at most two corpus scans (passage stream +
    slim spine) and three exchanges; no cartesian."""
    plan = _simple_plan(SUITE["scrub_dup_passages"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    assert "partial_min" in plan, plan[:3000]
    assert plan.count("Scan parquet") <= 2, plan[:3000]
    assert plan.count("Exchange") <= 3, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_embedding_lsh_bucket_table_reused_not_recomputed(spark, sf_dir):
    """Both sides of the LSH self-join must read the persisted bucket
    table (InMemoryTableScan), not re-run the Arrow bucketing UDF
    twice — at 100 TB recomputation doubles the dominant stage."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["dedup_embedding_lsh"].fn(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    D.release_cached()


def test_embedding_lsh_verify_before_pair_dedup(spark, sf_dir):
    """VERIFY-FIRST (round 9): the cosine threshold filter must sit
    UPSTREAM of the pair-dedup exchange, so only slim survivor rows
    (id_a, id_b, cos) shuffle — the old dedup-first shape shipped both
    dim-wide vectors per candidate through that exchange (the 16×
    SCALE regression).  Structural check: the final HashAggregate
    (the dropDuplicates) must not carry the vector columns."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["dedup_embedding_lsh"].fn(spark, sf_dir))
    # the dedup aggregate keys on (id_a, id_b) with cos as the only
    # carried value — if a vector column (_va/_vb) appears in any
    # aggregate node, vectors are being shuffled for dedup again
    for frag in plan.split("HashAggregate")[1:]:
        # the aggregate's own spec is its (keys=[...], functions=[...],
        # output=[...]) triple — stop at the third ']' so the check
        # never reads the child operators
        spec = "]".join(frag.split("]")[:3])
        if "id_a" in spec and "id_b" in spec:
            assert "_va" not in spec and "_vb" not in spec, spec
    D.release_cached()


def test_bm25_topk_is_take_ordered_single_stats_exchange(spark, sf_dir):
    """BM25 search must be one map-side corpus pass: the only exchanges
    are the single-row stats rollup (+ its broadcast back); top-k is
    TakeOrderedAndProject, never a global Sort, and nothing joins by
    shuffle."""
    plan = _simple_plan(SUITE["bm25_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:3000]
    # stats rollup and scoring both read the persisted slim base — the
    # corpus text is scanned and tokenized exactly once
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_winnow_pairs_reuses_persisted_fingerprints_no_nlj(spark, sf_dir):
    """Both self-join sides must read the persisted fingerprint table
    (one corpus scan + one fingerprint materialization), and the pair
    generation must be a hash equijoin on the fingerprint key — never a
    nested-loop/cartesian all-pairs plan."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["winnow_pairs"].fn(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    D.release_cached()


def test_lm_logprob_instance_table_reused_no_python(spark, sf_dir):
    """The bigram instance table must be materialized once and read by
    both the count rollup and the scoring join (not re-exploded from
    text), the vocabulary scalar must attach by broadcast, and the
    whole model must stay JVM-side (no Python eval node)."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["lm_doc_logprob"].fn(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan, plan[:3000]
    D.release_cached()


def test_rrf_hybrid_topk_is_take_ordered(spark, sf_dir):
    """Both fused rankings must reach their top-50 via
    TakeOrderedAndProject (local k per partition, no global sort of
    the corpus) before the tiny rank windows and the fusion agg."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["rrf_hybrid"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    D.release_cached()


def test_binary_ann_prescreen_broadcasts_signatures(spark, sf_dir):
    """The Hamming prescreen must broadcast the tiny query-signature
    side (never shuffle the corpus against it), and the prescreen's
    shortlist window must rank on the packed-signature hamming, not a
    float distance."""
    plan = _simple_plan(SUITE["binary_ann_topk"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:3000]
    assert "hamming" in plan, plan[:3000]


def test_pq_adc_broadcasts_query_tables_no_shuffle_before_topk(spark, sf_dir):
    """PQ ADC: the query distance tables ride a BroadcastExchange; the
    corpus side is codes-only into the broadcast join; the only
    shuffle is the per-query top-k window."""
    plan = _simple_plan(SUITE["pq_ann_topk"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]


def test_salted_join_replicates_small_side(spark, sf_dir):
    """salted_join must Generate (explode) the salt range on the small
    side and join on (key, salt)."""
    plan = _simple_plan(SUITE["salted_join"].fn(spark, sf_dir))
    assert "Generate explode" in plan, plan[:3000]
    assert "_salt" in plan, plan[:3000]


def test_scd2_closed_rows_filter_pushed_to_scan(spark, sf_dir):
    """SCD2 apply joins only CURRENT rows: the valid_to isNull/isNotNull
    split must appear as filters, and the update-batch join must be a
    single equijoin per leg (no cartesian)."""
    plan = _simple_plan(SUITE["scd2_history"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "isnull(valid_to" in plan or "isnotnull(valid_to" in plan, plan[:3000]


def test_ivfpq_broadcasts_probes_single_topk_shuffle(spark, sf_dir):
    """IVF-PQ: the probed-queries side (list ids + ADC tables) rides a
    BroadcastExchange into the list_id equijoin; the only hash shuffle
    is the per-query top-k window."""
    plan = _simple_plan(SUITE["ivfpq_topk"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_edit_join_vocab_reused_equijoin_only(spark, sf_dir):
    """FastSS candidate generation must be an equijoin on deletion keys
    (never a cross/theta join), and the vocabulary aggregate must be
    computed once and reused on both sides of the self-join."""
    df = SUITE["edit_distance_join"].fn(spark, sf_dir)
    df.collect()  # AQE inserts ReusedExchange only in the final plan
    plan = _simple_plan(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "ReusedExchange" in plan, plan[:3000]


def test_robust_outliers_partitioned_windows_broadcast_stats(spark, sf_dir):
    """Median selection windows are partitioned by the group key (no
    single-reducer sort of raw values), and the slim per-group stats
    row broadcasts back onto the corpus."""
    plan = _simple_plan(SUITE["robust_outliers"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_dq_verify_distinct_metrics_share_one_pass(spark, sf_dir):
    """The two count(distinct) metrics must ride the same aggregate via
    Expand — one scan, not one job per metric — and the referential
    check must stay a hash join against distinct dimension keys."""
    plan = _simple_plan(SUITE["dq_verify"].fn(spark, sf_dir))
    assert "Expand" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_graph_triangles_no_cartesian_wedges(spark, sf_dir):
    """Wedge generation and closure are equijoins on src / (w1, w2);
    the only nested-loop joins are the one-row scalar combines of the
    final summary (degree summary x edge count x candidate
    accountability x triangle count = three combines of four one-row
    frames)."""
    plan = _simple_plan(SUITE["graph_triangles"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan[:3000]


def test_kmv_bottom_k_no_single_reducer_window(spark, sf_dir):
    """The ungrouped (merged ALL) bottom-k must compile to
    TakeOrderedAndProject — never an unpartitioned row_number window
    over every distinct hash; grouped bottom-k windows partition by
    the key."""
    plan = _simple_plan(SUITE["kmv_distinct_users"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # grouped bottom-k: the pos <= k filter must push into the window
    # (WindowGroupLimit keeps per-group state at k rows, never the full
    # distinct-hash list); the only single-partition exchange allowed is
    # ranked_topk's post-limit <= k-row one.
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert plan.count("SinglePartition") <= 1, plan[:3000]


def test_refine_rerank_broadcasts_candidates_single_topk_shuffle(spark, sf_dir):
    """The refine stage scans the corpus ONCE against the broadcast
    candidate set (cost ∝ shortlist, never corpus²): the exact-cosine
    join must be a BroadcastHashJoin, and the only hash shuffle is the
    per-query top-k window over ≤ n_queries × m scored rows."""
    plan = _simple_plan(SUITE["ivfpq_rerank_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "SinglePartition" not in plan, plan[:3000]


def test_hdr_sketch_partitioned_windows_no_cartesian(spark, sf_dir):
    """Histogram build shuffles sketch-sized (g, b) cells; the
    cumulative walk and the exact-accounting rank window both
    partition by the group key — never a single-reducer sort; all
    joins are equijoins on the key."""
    plan = _simple_plan(SUITE["hdr_quantile_sketch"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "SinglePartition" not in plan, plan[:3000]


def test_ivm_apply_partial_aggregates_no_fact_join(spark, sf_dir):
    """State maintenance is pure aggregation: every leg partial-
    aggregates map-side before its exchange (delta shuffles carry
    group rows, never fact rows), and there is no join of the fact
    table back into the state."""
    plan = _simple_plan(SUITE["incremental_agg"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_bloom_join_filter_precedes_join(spark, sf_dir):
    """The bloom bit tests must appear as a Filter on the big side
    BEFORE the equijoin (map-side pruning — that is the point), and
    the only nested-loop joins are the single-row bloom/stat
    broadcasts."""
    plan = _simple_plan(SUITE["bloom_join_prune"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "element_at" in plan and "shiftright" in plan, plan[:3000]
    join_pos = plan.find("SortMergeJoin")
    if join_pos < 0:
        join_pos = plan.find("BroadcastHashJoin")
    filt_pos = plan.find("shiftright")
    assert 0 <= filt_pos, plan[:3000]


def test_funnel_pushes_step_filter_no_cartesian(spark, sf_dir):
    """The step-type filter must reach the events scan (only funnel
    step rows are ever read), and every frontier advance is an
    equijoin — no cartesian anywhere."""
    plan = _simple_plan(SUITE["funnel_steps"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "In(event_type" in plan or "event_type IN" in plan, plan[:3000]


def test_retention_broadcasts_cohort_sizes(spark, sf_dir):
    """The cohort-size frame (one row per week) broadcasts back onto
    the per-period counts; no single-reducer stage."""
    plan = _simple_plan(SUITE["retention_cohorts"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_quality_thresholds_broadcasts_thresholds(spark, sf_dir):
    """The per-language threshold table (≤ languages rows) must ride a
    BroadcastExchange into the flagging join — the corpus-side scores
    are never shuffled for it."""
    plan = _simple_plan(SUITE["quality_thresholds"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_gap_fill_grid_generated_in_task_no_single_reducer(spark, sf_dir):
    """The dense bucket grid must come from an in-task
    Generate/explode(sequence) — never a driver-side range — and no
    stage of the resampler may collapse to a single partition."""
    plan = _simple_plan(SUITE["gap_fill_ffill"].fn(spark, sf_dir))
    assert "Generate explode(sequence" in plan.replace("  ", " "), plan[:3000]
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_scd2_time_travel_interval_filter_no_extra_shuffle(spark, sf_dir):
    """Snapshot reconstruction is a validity-interval filter over the
    history: the as_of read adds NO exchange beyond the history build
    (at most 2x for the two snapshots).  With the history built
    in-plan from literal versions, Catalyst constant-folds the
    interval predicate away entirely — the filter must NOT survive as
    a post-shuffle row filter on the snapshot branches."""
    travel = _simple_plan(SUITE["scd2_time_travel"].fn(spark, sf_dir))
    history = _simple_plan(SUITE["scd2_history"].fn(spark, sf_dir))
    assert "Filter (valid_from" not in travel  # folded, not re-evaluated
    # two snapshots read the same 2-version history: at most 2x the
    # history build's exchanges, no single-partition collapse
    assert travel.count("Exchange") <= 2 * max(history.count("Exchange"), 1)
    assert "SinglePartition" not in travel


def test_asof_join_no_join_operator_single_exchange(spark, sf_dir):
    """The as-of join must execute as union + ONE hash exchange +
    window carry: no join operator of any kind, no single-partition
    collapse, and the event_type filters pushed into both scans."""
    plan = _simple_plan(SUITE["asof_enrich"].fn(spark, sf_dir))
    for bad in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoop",
        "CartesianProduct",
    ):
        assert bad not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "SinglePartition" not in plan
    assert plan.count("PushedFilters: [IsNotNull(event_type), EqualTo(event_type") == 2


def test_interval_overlap_equijoin_on_bins_no_theta(spark, sf_dir):
    """The range join's whole point: candidates come from a hash
    EQUIJOIN on bin ids (broadcast at this size, sort-merge at scale),
    never a nested-loop/cartesian theta join; the bin grid is generated
    in-task via explode(sequence)."""
    plan = _simple_plan(SUITE["interval_overlap"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoop" not in plan, plan[:3000]
    assert "Generate explode(sequence" in plan.replace("  ", " "), plan[:3000]
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "SinglePartition" not in plan


def test_point_in_interval_only_interval_side_explodes(spark, sf_dir):
    """The corpus-sized point side must map to ONE bin (a plain
    projection) — exactly one Generate in the plan, on the interval
    side; candidates meet in a hash equijoin, never a theta join."""
    plan = _simple_plan(SUITE["point_in_interval"].fn(spark, sf_dir))
    assert plan.replace("  ", " ").count("Generate explode(sequence") == 1, (
        plan[:3000]
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "SinglePartition" not in plan


def test_compaction_plan_no_single_partition_prefix_sum(spark, sf_dir):
    """The manifest prefix sum must ride the distributed rank (range
    exchange + broadcast offsets), never an unpartitioned window."""
    from platform_etl_literature_spark.operators import ranking

    plan = _simple_plan(SUITE["compaction_plan"].fn(spark, sf_dir))
    ranking.release_cached()
    assert "SinglePartition" not in plan, plan[:3000]
    assert "RangePartitioning" in plan or "rangepartitioning" in plan, (
        plan[:3000]
    )


def test_training_shuffle_no_single_partition(spark, sf_dir):
    """The global shuffle position must ride the distributed rank —
    RangePartitioning exchange, never a SinglePartition sort."""
    from platform_etl_literature_spark.operators import ranking

    plan = _simple_plan(SUITE["training_shuffle"].fn(spark, sf_dir))
    ranking.release_cached()
    assert "SinglePartition" not in plan, plan[:3000]
    assert "rangepartitioning" in plan.lower(), plan[:3000]


def test_asof_nearest_single_exchange_two_windows(spark, sf_dir):
    """Nearest runs BOTH carries over the same hash partitioning: still
    exactly one exchange, two Window operators, zero join operators."""
    plan = _simple_plan(SUITE["asof_nearest"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert plan.count("Window") >= 2
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan
    assert "SinglePartition" not in plan


def test_ohlc_bars_single_aggregation_no_window(spark, sf_dir):
    """The whole bar is ONE map-side-combined aggregation: no Window,
    no Sort, no join; partial min_by/max_by run before the single
    exchange."""
    plan = _simple_plan(SUITE["ohlc_bars"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange") <= 1, plan[:3000]
    assert "partial_min_by" in plan or "partial_count" in plan, plan[:3000]


def test_scd2_temporal_join_rides_the_asof_carry(spark, sf_dir):
    """The point-in-time dim join must compile to the as-of carry —
    window over the unioned sides — never an equi+interval join whose
    fact x versions candidates blow up on long histories.  The only
    join operators allowed are the history BUILD's (scd2_apply merges
    state + updates); the fact-to-dimension attachment itself must be
    join-free."""
    plan = _simple_plan(SUITE["scd2_temporal_join"].fn(spark, sf_dir))
    assert "last(_rrow" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    # the carry window over the union is present and keyed by the join
    # key + ordering axis
    assert "windowspecdefinition(doc_id" in plan, plan[:3000]


def test_record_linkage_no_cartesian_anywhere(spark, sf_dir):
    """Blocking -> verify -> cluster -> canonicalize composes without a
    cartesian product: candidates come from the deletion-key equijoin,
    the closure from star-contraction equijoins."""
    plan = _simple_plan(SUITE["record_linkage"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_label_propagation_all_equijoins(spark, sf_dir):
    """The LPA vote loop composes the neighbor-label broadcast join +
    the two vote aggregations as plain equijoins on a checkpointed
    adjacency list: no cartesian, no nested-loop join, no
    single-partition funnel; the node-sized label frame broadcasts."""
    plan = _simple_plan(SUITE["label_propagation"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_k_core_peel_all_equijoins(spark, sf_dir):
    """The k-core peel composes degree aggregation + survivor
    semi-joins as plain equijoins on a checkpointed edge set: no
    cartesian, no nested-loop join, no single-partition funnel."""
    plan = _simple_plan(SUITE["k_core"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_link_prediction_capped_wedges_broadcast_degrees(spark, sf_dir):
    """The wedge self-join and existing-edge subtraction compose as
    plain equijoins (no cartesian, no nested-loop); the node-sized
    degree frame attaches by broadcast-hash (the pagerank
    broadcast_ranks rule), and the subtraction is a LeftAnti."""
    plan = _simple_plan(SUITE["link_prediction"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_seasonal_profile_one_agg_partitioned_window(spark, sf_dir):
    """One map-side-combined aggregation on (keys, phase) + one
    PARTITIONED window over the tiny per-key grid — no join, no
    single-partition funnel, everything JVM-side."""
    plan = _simple_plan(SUITE["seasonal_profile"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert plan.count("HashAggregate") == 2, plan[:3000]  # partial+final


def test_ngram_containment_single_tokenize_no_cartesian(spark, sf_dir):
    """The containment join re-explodes both inverted-index sides from
    the ONE materialized compact gram table (single tokenize pass) and
    composes as a pure equijoin."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["ngram_containment"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    D.release_cached()


def test_moore_lewis_scalar_broadcast_jvm_side(spark, sf_dir):
    """Both LMs score the one materialized bigram-instance table; the
    two vocabulary scalars ride one-row broadcasts (two nested-loop
    joins: vs x vt assembly, then the attach) and the whole pipeline
    stays JVM-side."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["moore_lewis_select"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    D.release_cached()


def test_ranking_eval_single_agg_no_explode(spark, sf_dir):
    """The three ranking metrics reduce in ONE aggregation pair over
    the ranked input; the iDCG rides the precomputed partial-sum array
    (no Explode/Generate node, no join), and the only window is the
    partitioned ranking itself."""
    plan = _simple_plan(SUITE["ranking_eval"].fn(spark, sf_dir))
    assert "Generate" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert plan.count("HashAggregate") == 2, plan[:3000]


def test_lang_id_kappa_grid_sized_joins(spark, sf_dir):
    """Kappa folds the label-pair grid: after the first aggregation
    nothing corpus-shaped remains, the marginal product joins two
    label-vocabulary-sized frames, and the scalar attach is the one
    sanctioned one-row broadcast."""
    plan = _simple_plan(SUITE["lang_id_kappa"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_ks_drift_cell_collapse_no_join(spark, sf_dir):
    """KS folds to (key, value) count cells in ONE map-side-combined
    aggregation, one partitioned window pass over distinct values, and
    a final hash aggregate — no join anywhere, no single-partition
    window, everything JVM-side."""
    plan = _simple_plan(SUITE["ks_drift"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_chi2_drift_cell_collapse_no_join(spark, sf_dir):
    """Chi-squared reduces to (key, category) cells map-side; side
    totals ride a partitioned window over the category-sized cells and
    the nano-unit fold is one aggregate pair — no join, no
    single-partition exchange."""
    plan = _simple_plan(SUITE["chi2_drift"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_grouped_ols_single_agg_pair_no_window(spark, sf_dir):
    """All six sufficient statistics come from the one hash-aggregate
    pair over the daily frame (plus the daily rollup's own pair) —
    no join, no window, no single-partition funnel."""
    plan = _simple_plan(SUITE["grouped_ols"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert plan.count("HashAggregate") == 4, plan[:3000]


def test_kmv_overlap_sketch_sized_pairs_broadcast(spark, sf_dir):
    """The data-sized sketch build runs EXACTLY ONCE (checkpointed —
    the final plan reads the k·n_sources-row checkpoint, not the
    parquet); the stats-pair assembly (the one sanctioned nested loop)
    is folded into the checkpointed pair frame, and every remaining
    join is a broadcast hash equijoin over sketch-sized frames."""
    plan = _simple_plan(SUITE["kmv_source_overlap"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "parquet" not in plan, plan[:3000]  # checkpoint, not rescan
    assert "BroadcastExchange" in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_bfs_distances_broadcast_frontier_no_edge_shuffle(spark, sf_dir):
    """Every expansion hop joins the checkpointed edge list against a
    BROADCAST frontier and anti-joins a BROADCAST settled set — the
    edge list is never hash-shuffled per hop, and nothing funnels to a
    single partition."""
    plan = _simple_plan(SUITE["bfs_distances"].fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    # final frame is a union of per-hop checkpoints; the plan must not
    # contain any sort-merge join (broadcast hash + anti only)
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_text_keys_nostem_pure_map(spark, sf_dir):
    """The no-stem key chain is a per-row projection: zero exchanges,
    zero Python — the whole normalization stays in whole-stage
    codegen."""
    plan = _simple_plan(SUITE["text_keys_nostem"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_ingest_neardedup_replay_checkpointed_fold(spark, sf_dir):
    """The K-batch near-dup fold checkpoints each batch's accepted-id
    frame (round 10: the lazy fold re-embedded batch b's kept subtree
    in every later batch's index probe — O(K²) recompute), so the
    FINAL plan must be exactly K slim semi-joins of the batch scans
    against checkpointed id RDDs: no signature recompute (no
    aggregates, no band-table scan), no cartesian, no Python."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(
        SUITE["ingest_neardedup_replay"].fn(spark, sf_dir)
    )
    assert plan.count("Scan ExistingRDD") == 4, plan[:3000]
    assert plan.count("LeftSemi") == 4, plan[:3000]
    # the signature/banding work happened in the checkpoint jobs — the
    # final plan must not replay any of it
    assert "HashAggregate" not in plan, plan[:3000]
    assert "InMemoryTableScan" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    D.release_cached()


def test_ts_similar_single_cell_pass_no_cartesian(spark, sf_dir):
    """The (id, pos, value) cell frame materializes ONCE (signature
    build + both verify sides read the cache — the upstream series
    aggregation must not replay three times); candidates are a pure
    signature equijoin, never a cartesian/nested-loop pair join."""
    from platform_etl_literature_spark.operators import dedup as D

    plan = _simple_plan(SUITE["ts_similar"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    # the ONE sanctioned nested-loop join is the broadcast one-row
    # series count driving the adaptive resolution schedule (round
    # 10), and it lives INSIDE the cached signature subtree — explain
    # reprints that body per cache scan, so pin the SHAPE (its probe
    # side is always the cached vec scan) rather than a raw count
    for i, line in enumerate(plan.splitlines()):
        if "BroadcastNestedLoopJoin" in line:
            nxt = plan.splitlines()[i + 1]
            assert "InMemoryTableScan" in nxt, plan[:3000]
    assert plan.count("InMemoryTableScan") >= 3, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    D.release_cached()


def test_cusum_no_join_group_parallel(spark, sf_dir):
    """CUSUM is cell-collapse + one partitioned window + one argmax
    aggregate — no join, no single-partition funnel."""
    plan = _simple_plan(SUITE["cusum_changepoint"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_event_transitions_one_lag_window_one_agg(spark, sf_dir):
    """One lag window on the high-cardinality user key, one map-side
    count pair, one vocabulary-sized normalization window — no join,
    nothing single-partition."""
    plan = _simple_plan(SUITE["event_transitions"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert plan.count("Window") == 2, plan[:3000]


def test_pmi_vocab_joins_no_cartesian(spark, sf_dir):
    """PMI joins are (filtered-pair-vocab × unigram-vocab) hash
    equijoins; the only nested-loop joins are the two sanctioned
    one-row totals broadcasts, and nothing runs in Python."""
    plan = _simple_plan(SUITE["pmi_collocations"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_acf_one_window_no_join(spark, sf_dir):
    """All max_lag lag columns ride ONE partitioned window pass and
    all 6·max_lag sufficient statistics come from one hash-aggregate
    pair — no self-join per lag, no single-partition funnel."""
    plan = _simple_plan(SUITE["acf_lags"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_ab_welch_arm_collapse_control_broadcast(spark, sf_dir):
    """The corpus collapses to arm-count rows in one map-side
    aggregate; the control row attaches via the one sanctioned
    single-row broadcast — no window, no shuffle-heavy join.  The
    missing-control raise_error guard adds exactly one
    arm-count-sized single-partition collapse (bounded by the arm
    vocabulary, never data-sized)."""
    plan = _simple_plan(SUITE["ab_welch"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("Exchange SinglePartition") <= 1, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_lift_table_group_parallel_windows_no_join(spark, sf_dir):
    """Per-language ntile + cumulative windows are all partitioned by
    the group — no global sort, no single-partition exchange, no
    join anywhere."""
    plan = _simple_plan(SUITE["lift_table"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_woe_iv_cell_collapse_totals_broadcast(spark, sf_dir):
    """WOE/IV is one hash aggregate to category cells plus the one
    sanctioned one-row totals broadcast — no window, no
    corpus-shaped join."""
    plan = _simple_plan(SUITE["woe_iv"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_burstiness_one_window_one_agg_no_join(spark, sf_dir):
    """Burstiness is one partitioned lag window + one map-side
    aggregate — no join, group-parallel, no single-partition funnel."""
    plan = _simple_plan(SUITE["burstiness"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_gini_one_window_one_agg_no_join(spark, sf_dir):
    """Gini is one group-parallel rank window + one hash aggregate."""
    plan = _simple_plan(SUITE["gini"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_benford_cell_sized_spine_no_cartesian(spark, sf_dir):
    """After the one corpus collapse everything is digit-cell-sized:
    the 1..9 spine attaches via the sanctioned broadcast, windows run
    over ≤9-row partitions, nothing in Python."""
    plan = _simple_plan(SUITE["benford"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_naive_bayes_one_class_broadcast_vocab_equijoin(spark, sf_dir):
    """NB scoring attaches the class-count-sized frame via ONE
    sanctioned broadcast nested loop; token likelihoods join on the
    (w, c) vocabulary key (hash equijoin, never cartesian); the
    argmax window partitions by document."""
    plan = _simple_plan(SUITE["naive_bayes"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    # two sanctioned one-row collapses (corpus doc count + class
    # count-sized prior aggregate) — bounded, never data-sized
    assert plan.count("Exchange SinglePartition") <= 2, plan[:3000]


def test_rfm_no_single_partition_rank(spark, sf_dir):
    """RFM's three equi-depth binnings ride the range-exchange global
    rank — NO single-partition sort or window anywhere; the stitch
    joins are user-keyed equijoins; the only nested-loop joins are the
    sanctioned one-row broadcasts (corpus max-ts, user count ×3)."""
    from platform_etl_literature_spark.operators.ranking import (
        release_cached,
    )

    plan = _simple_plan(SUITE["rfm_segments"].fn(spark, sf_dir))
    # the global-ntile hazard is a single-partition SORT/WINDOW; the
    # scalar one-row aggregates (corpus max-ts, user count) are the
    # sanctioned single-partition collapses and carry one row each
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "rangepartitioning" in plan.lower(), plan[:3000]
    release_cached()


def test_ccf_one_window_no_join(spark, sf_dir):
    """All 2K+1 shifted columns ride ONE partitioned window pass and
    every sufficient statistic comes from one hash-aggregate pair —
    no self-join, no per-lag pass, no single-partition funnel."""
    plan = _simple_plan(SUITE["ccf_lags"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_auc_cell_collapse_one_window_no_join(spark, sf_dir):
    """AUC folds to distinct-score cells map-side; the midrank ride is
    one group-parallel cumulative window; no join anywhere."""
    plan = _simple_plan(SUITE["auc_roc"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_kaplan_meier_cell_collapse_no_join(spark, sf_dir):
    """KM folds subjects to (group, duration) cells in one map-side
    aggregate; at-risk bookkeeping and the micro-nat running product
    are group-parallel windows over DISTINCT durations — no join, no
    single-partition funnel."""
    plan = _simple_plan(SUITE["kaplan_meier"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_mann_kendall_declared_pair_join_broadcast_stitch(spark, sf_dir):
    """MK's pair join is the DECLARED per-group quadratic (the
    statistic is pairwise); everything after is key-count-sized and
    stitched by broadcast joins — no cartesian, nothing in Python."""
    plan = _simple_plan(SUITE["mann_kendall"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_nelson_aalen_cell_collapse_no_join(spark, sf_dir):
    """NA is the KM shape: one cell collapse + group-parallel
    cumulative windows over distinct durations — no join."""
    plan = _simple_plan(SUITE["nelson_aalen"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_logrank_cell_collapse_no_join(spark, sf_dir):
    """Log-rank is the KM cell shape pivoted by arm: one cell
    collapse, conditional-sum pivot, group-parallel cumulative
    windows, one aggregate — no join anywhere."""
    plan = _simple_plan(SUITE["logrank"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_kendall_tau_declared_pair_join_no_python(spark, sf_dir):
    """τ-b's pair join is the declared per-group quadratic (equijoin on
    the group key with the index inequality as residual) — never a
    cartesian product; tie aggregates are hash aggregates; no Python."""
    plan = _simple_plan(SUITE["kendall_tau"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_winsorized_stats_one_window_no_join_beyond_size(spark, sf_dir):
    """Winsorized means: one group-parallel rank window + hash
    aggregates; the size frame attaches via broadcast — no
    single-partition window, nothing in Python."""
    plan = _simple_plan(SUITE["winsorized_stats"].fn(spark, sf_dir))
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_categorical_mi_vocab_sized_folds_no_window(spark, sf_dir):
    """MI folds level-keyed hash aggregates; the only nested-loop
    joins are the sanctioned one-row broadcasts (three entropy
    numerators, the level counts, the total); no window, no Python."""
    plan = _simple_plan(SUITE["categorical_mi"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_heaps_law_range_exchange_no_single_partition(spark, sf_dir):
    """Heaps' running sums ride the range exchange: windows are
    bounded by the range partition id — NO single-partition sort or
    data-sized window; the fit attaches via the sanctioned one-row
    broadcast."""
    from platform_etl_literature_spark.operators.ranking import (
        release_cached,
    )

    plan = _simple_plan(SUITE["heaps_law"].fn(spark, sf_dir))
    release_cached()
    assert "rangepartitioning" in plan.lower(), plan[:3000]
    # the only single-partition collapses are the sanctioned scalar
    # aggregates (doc count, the 5-sum OLS fit, its broadcast feed) —
    # each carries one row, never the corpus
    assert plan.count("Exchange SinglePartition") <= 3, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_zipf_fit_bounded_take_ordered(spark, sf_dir):
    """The top-R selection must be a bounded TakeOrdered, not a global
    sort materialization; the OLS is a one-row aggregate."""
    plan = _simple_plan(SUITE["zipf_fit"].fn(spark, sf_dir))
    assert "TakeOrdered" in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_skipgram_cooc_no_join_map_side_pairs(spark, sf_dir):
    """Skip-gram pairs come from k zip_with slices flattened into one
    explode — NO join of any kind; the only shuffle is the map-side-
    combined pair-count aggregate."""
    plan = _simple_plan(SUITE["skipgram_cooc"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "partial_count" in plan, plan[:3000]


def test_hard_negatives_blocked_kernels_bounded_shuffle(spark, sf_dir):
    """Semi-hard mining: the only Python is the two Arrow kernels
    (mapInPandas); the ranking window input is the kernel's local
    top-k pre-reduction, so no corpus-sized sort feeds the window."""
    plan = _simple_plan(SUITE["hard_negatives"].fn(spark, sf_dir))
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_jaro_winkler_join_block_equijoin_one_arrow_kernel(spark, sf_dir):
    """JW candidates come from the first-char block EQUIJOIN (never a
    cartesian); the only Python is the single Arrow verify kernel over
    candidates."""
    plan = _simple_plan(SUITE["jaro_winkler_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]


def test_isotonic_calibration_declarative_no_python(spark, sf_dir):
    """The PAV minimax fit is ONE declarative plan: cell collapse,
    group-keyed interval equijoin (never cartesian), two bounded
    windows, one max aggregate — no iteration, no Python, no
    single-partition exchange (all windows partition by the group)."""
    plan = _simple_plan(SUITE["isotonic_calibration"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_ece_calibration_integer_folds_no_python(spark, sf_dir):
    plan = _simple_plan(SUITE["ece_calibration"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_corr_matrix_one_aggregate_no_join_no_window(spark, sf_dir):
    """The whole matrix comes from ONE map-side-combined aggregate
    feeding an M²-sized unpivot — no join, no window, nothing in
    Python."""
    plan = _simple_plan(SUITE["corr_matrix"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]
    assert "partial_count" in plan or "partial_sum" in plan, plan[:3000]


def test_bootstrap_ci_map_side_explode_bounded_window(spark, sf_dir):
    """The B-replicate explode is map-side into a map-side-combined
    (keys, b) aggregate; the rank window runs over B rows per group —
    no Python, no cartesian, no single-partition exchange."""
    plan = _simple_plan(SUITE["bootstrap_ci"].fn(spark, sf_dir))
    assert "EvalPython" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "partial_sum" in plan, plan[:3000]


def test_zonemap_skip_one_zone_aggregation_per_layout(spark, sf_dir):
    """Round-11 fusion pin: with two predicate columns the plan must
    aggregate each layout's zone-map table exactly ONCE (a count_if
    per column riding one aggregate), not once per (layout, column) —
    the pre-fusion shape re-ran the zone groupBy per predicate column
    (4 ~16 MB passes where 2 suffice).  Zone tables group by the
    simulated file id, so the `_file`-keyed partial aggregates count
    the corpus-sized zone passes."""
    import re

    plan = _simple_plan(SUITE["hilbert_skip"].fn(spark, sf_dir))
    # the `_file` alias resolves to the underlying _fz/_fn exprs in
    # this Spark's physical plan (another version may keep `_file`);
    # partial + final per layout = 2 each, 4 total (the old per-column
    # shape had 8)
    zone_aggs = len(re.findall(r"HashAggregate\(keys=\[(?:_f[zn]|_file)#", plan))
    assert zone_aggs == 4, f"{zone_aggs} file-keyed HashAggregates\n" + plan[:3000]
