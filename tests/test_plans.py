"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast joins) asserted from
explain("formatted") output — a wrong plan is a perf bug even when
results are right."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from bearysta_spark.queries import QUERIES, RAW_QUERIES

SF = "/root/testdata/sf0.001"


def explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    # RAW_QUERIES: the lazy pipeline (the registered form in QUERIES of a
    # query whose build pins a cache returns a scan of its materialized
    # result instead)
    return explained(RAW_QUERIES[name](spark, SF))


def test_q1_filter_pushdown_and_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: orderkey/partkey/suppkey never read
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_filter_in_out_reaches_scan(spark):
    p = plan_of(spark, "filter_in_out")
    assert "PushedFilters" in p
    assert "In(l_returnflag" in p  # isin filter pushed into parquet


def test_star_joins_broadcast(spark):
    p = plan_of(spark, "q5_region_volume")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # all dims broadcast; fact never pre-shuffles


def test_ratio_of_base_broadcast(spark):
    p = plan_of(spark, "ratio_of_base")
    assert "BroadcastHashJoin" in p


def test_knn_broadcast_nested_loop(spark):
    p = plan_of(spark, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in p  # tiny query side × corpus


def test_recipe_pipeline_prunes_and_pushes(spark):
    # the compiled recipe plan must still push the filter-in predicate
    # shapes down to the scan despite the multi-stage pipeline
    p = plan_of(spark, "recipe_pipeline")
    assert "Scan parquet" in p or "BatchScan" in p


def test_q17_single_window_exchange(spark):
    # brand filter must reach the part scan; the per-part stats are a
    # window over the broadcast-joined slice — exactly one hash
    # partitioning exchange (plus the final single-partition agg)
    p = plan_of(spark, "q17_small_qty_revenue")
    assert "EqualTo(p_brand,Brand#23)" in p
    assert "BroadcastHashJoin" in p
    assert p.count("Window") >= 1
    assert "SortMergeJoin" not in p


def test_q19_or_predicates_extracted_to_scans(spark):
    # Catalyst pushes the side-local projection of the OR to each scan:
    # the OR of quantity ranges reaches the lineitem scan, the OR of
    # brand+size conjunctions reaches the part scan
    p = plan_of(spark, "q19_disjunctive_join")
    assert "GreaterThanOrEqual(l_quantity,1.0)" in p
    assert "EqualTo(p_brand,Brand#12)" in p
    assert "BroadcastHashJoin" in p


def test_q16_anti_join_broadcasts(spark):
    p = plan_of(spark, "q16_supplier_variety")
    assert "BroadcastHashJoin LeftAnti" in p
    assert "In(p_size" in p  # size list pushed to the part scan


def test_q4_semi_join_no_dedup_pass(spark):
    # left-semi emits orders at most once — the plan must not contain a
    # separate aggregate/distinct to dedup lineitem matches
    p = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p


def test_q22_anti_join_and_scalar_broadcast(spark):
    p = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row scalar aggregate cross join
    assert "EqualTo(o_orderpriority,1-URGENT)" in p  # pushed to orders scan


def test_lineage_scan_preserves_pushdown(spark, tmp_path):
    # input_file_name() is non-deterministic and blocks predicate
    # pushdown through the lineage Project; _metadata.file_path must not
    from bearysta_spark.engine.sources import scan_json, scan_orc, scan_parquet

    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5), ("a", 3, 3.5)], ["k", "i", "v"]
    )
    paths = {}
    for fmt in ("parquet", "orc", "json"):
        p = str(tmp_path / fmt)
        getattr(df.write.mode("overwrite"), fmt)(p)
        paths[fmt] = p

    import contextlib
    import io

    for fmt, scan in (
        ("parquet", scan_parquet),
        ("orc", scan_orc),
        ("json", scan_json),
    ):
        back = scan(spark, [paths[fmt]])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            back.filter(back.i == 2).explain("formatted")
        plan = buf.getvalue()
        assert "EqualTo(i,2)" in plan, f"{fmt}: filter not pushed to scan"
        r = back.filter(back.i == 2).select("i", "File").first()
        assert r["i"] == 2 and r["File"]  # lineage still populated


def test_simhash_pairs_no_block_cross_product(spark):
    # r01 VERDICT: the old shape self-joined on source alone — an
    # all-pairs cross product within each source block. The banded
    # rewrite must be a pure equi-join on (chunk_id, chunk_value,
    # source): no nested-loop / cartesian anywhere in the plan.
    p = plan_of(spark, "simhash_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "cval" in p  # chunk value participates in the join key


def test_sliding_windows_single_shuffle_partial_agg(spark):
    # window(slide) expands scan-side; the aggregate must partial-combine
    # before its one shuffle — 4x expansion never crosses the wire raw
    p = plan_of(spark, "events_sliding_windows")
    assert "Expand" in p
    assert p.count("Exchange") <= 2  # agg shuffle (+AQE coalesce read)
    assert "partial" in p.lower()


def test_repeated_spans_digest_agg_no_cross_join(spark):
    p = plan_of(spark, "cross_doc_repeated_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial" in p.lower()  # md5-digest count map-side combines


def test_lines_df_plan_is_one_map_over_local_specs(spark, tmp_path):
    from bearysta_spark.engine.sources import lines_df

    big = tmp_path / "big.log"
    big.write_text("\n".join(f"DATA: {i}" for i in range(5000)) + "\n")
    df = lines_df(spark, [str(big)], {r"^DATA: (.*)": r"\1"}, chunk_mb=0.005)
    p = df._jdf.queryExecution().executedPlan().toString()
    # chunk specs are a LocalRelation feeding one mapInPandas: no
    # shuffle, no window, no join
    assert p.count("MapInPandas") == 1, p
    for node in ("Exchange", "Window", "Join", "CartesianProduct"):
        assert node not in p, p
    # a small input reads in one Python task, not one per core
    assert df.rdd.getNumPartitions() == 1


def test_bloom_decontam_probe_is_jvm_side(spark):
    # the Bloom probe must be codegen shift/mask — no Python evaluation
    # anywhere in the corpus scan path
    p = plan_of(spark, "bloom_decontam")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "xxhash64" in p.lower()  # probe hashes visible in the plan


def test_knn_pq_adc_no_nested_loop_and_partial_agg(spark):
    p = plan_of(spark, "knn_pq_adc")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # ADC sum map-side combines on (qid, nid)
    assert "partial" in p.lower()


def test_knn_pq_adc_starts_no_python_worker(spark):
    # encoder and LUT are JVM folds: no Python evaluation node anywhere
    p = plan_of(spark, "knn_pq_adc")
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in p


def test_value_band_join_is_equi_join(spark):
    p = plan_of(spark, "events_value_band_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_mixture_alpha_single_broadcast_scalar(spark):
    p = plan_of(spark, "mixture_alpha_weights")
    # the normalizer is a broadcast 1-row aggregate, not a shuffle join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_prefix_jaccard_broadcasts_and_no_cartesian(spark):
    # df table + verify arrays broadcast; the only joins are equi-joins
    # (prefix shingle, candidate ids) — a cartesian product would mean
    # the filter degenerated
    p = plan_of(spark, "prefix_jaccard_pairs")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_token_lift_marginals_broadcast(spark):
    # unigram marginals and scalar totals broadcast onto bigram counts;
    # the bigram aggregate is the only corpus-sized shuffle
    p = plan_of(spark, "token_lift_pairs")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # top-k must be TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in p


def test_winsorize_bounds_broadcast(spark):
    p = plan_of(spark, "winsorized_value_stats")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_unigram_surprise_takeordered(spark):
    p = plan_of(spark, "unigram_surprise")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_cohort_retention_no_global_sort_before_agg(spark):
    p = plan_of(spark, "user_cohort_retention")
    # the cohort-size join is on the tiny matrix → broadcast
    assert "BroadcastHashJoin" in p


def test_blocklist_scrub_single_scan_no_join(spark):
    p = plan_of(spark, "blocklist_scrub_stats")
    # pure scan → project → partial agg → exchange → final agg
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # one agg shuffle (+AQE read)
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" not in read_schema  # only text+source read


def test_ann_lsh_recall_no_unbounded_cross(spark):
    p = plan_of(spark, "ann_lsh_recall")
    # the only nested-loop is the bounded 25-query exact baseline side;
    # it must be broadcast (sample side), never a shuffled cartesian
    assert "CartesianProduct" not in p
    if "BroadcastNestedLoopJoin" in p:
        assert "BroadcastExchange" in p


def test_jaccard_band_histogram_broadcast_candidates(spark):
    p = plan_of(spark, "jaccard_band_histogram")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # candidate pairs broadcast to verify


def test_cms_estimate_broadcasts_cells(spark):
    p = plan_of(spark, "cms_heavy_hitters")
    # the d*w cell table must broadcast to the probe side, and nothing
    # may cartesian
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_rp_projection_stays_scan_side(spark):
    p = plan_of(spark, "rp_distance_preservation")
    # the only join is the broadcast 5x10 evaluation grid; the
    # projection itself must add no exchange beyond it
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_bm25_broadcasts_small_frames(spark):
    # df table / corpus stats / avgdl are tiny: all must broadcast, and
    # the only wide ops are the token aggregates + TakeOrdered top-k
    p = plan_of(spark, "bm25_keyword_topk")
    assert p.count("BroadcastExchange") >= 3
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_fuzzy_dup_pairs_equi_join_not_nested_loop(spark):
    # the blocked self-join must plan as an equi-join on the block key;
    # a nested-loop/cartesian plan would be the O(n^2) scale killer
    p = plan_of(spark, "fuzzy_dup_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hll_shuffles_registers_not_keys(spark):
    # the sketch aggregate partially aggregates map-side into <=256
    # cells per group: the exchange key is (event_type, bucket)
    p = plan_of(spark, "hll_distinct_users")
    assert "hashpartitioning(event_type" in p
    assert "md5" in p


def test_split_leakage_bloom_prefilter_and_gated_broadcast(spark):
    # routes through contaminated_docs_bloom: the train-side gram scan
    # carries the Bloom probe (xxhash64 shift/mask codegen, no Python),
    # and at this sf the val-gram table is small enough that the
    # unhinted verify join still broadcasts
    p = plan_of(spark, "split_leakage_check")
    assert "xxhash64" in p  # Bloom probe reached the scan side
    assert "BroadcastExchange" in p
    assert "BroadcastHashJoin" in p


def test_ivf_pq_broadcasts_probe_and_lut_no_cartesian(spark):
    # composed IVF-PQ search: probe list and ADC LUT broadcast, corpus
    # side equi-joins on cell/code keys — never a cartesian/nested-loop
    p = plan_of(spark, "knn_ivf_pq")
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# Executed-plan scan budgets (r05): these queries were measured
# replaying their corpus scan for every reference to a shared frame
# (AQE exchange reuse only deduplicates some replays). The fixes —
# bounded-frame caches, single-pass rewrites — are pinned here as
# ceilings on table-scan count in the FINAL (post-AQE) plan.
SCAN_BUDGETS = [
    ("event_funnel", "events", 1),
    ("user_cohort_retention", "events", 1),
    ("cms_heavy_hitters", "events", 1),
    ("hll_overlap_sketch", "events", 1),
    ("source_tv_divergence", "documents", 1),
    ("token_lift_pairs", "documents", 2),
    ("bm25_keyword_topk", "documents", 2),
    ("unigram_surprise", "documents", 3),
    # r06 additions: one corpus scan each (scoped caches make the
    # multi-reference frames single-read); the agreement query runs two
    # independent signal pipelines, so two scans is its floor
    ("knn_sparse_text", "documents", 1),
    ("image_phash_pairs", "documents", 1),
    ("audio_fp_stats", "documents", 1),
    ("video_frame_dedup", "documents", 1),
    ("multimodal_dedup_agreement", "documents", 2),
    # r07 additions: the LM pair and the repetition report are single
    # corpus passes (the split+tokenized base frame is scoped-cached;
    # uncached they measured 4-5 scans); the sampler's assignment frame
    # is scoped-cached (uncached: 5 embeddings scans); the funnel's 4 is
    # its contract floor (quality-flags build + the two LSH pipeline
    # passes + the 8-gram decontam pass over survivors)
    ("gopher_repetition_report", "documents", 1),
    ("bigram_backoff_surprise", "documents", 1),
    ("lm_perplexity_buckets", "documents", 1),
    ("cluster_balanced_sample", "embeddings", 1),
    ("pretrain_funnel_report", "documents", 4),
    ("dsir_importance_select", "documents", 1),
    ("bpe_trained_compression", "documents", 2),
    # r08 additions: the order-3 LM rides the same scoped-cached base
    # frame as the order-2 one (1 corpus scan each); media_ingest_dedup
    # reads documents once to SYNTHESIZE the file corpus — the dedup
    # itself scans the binaryFile directory, not the parquet
    ("trigram_backoff_surprise", "documents", 1),
    ("trigram_perplexity_buckets", "documents", 1),
    ("media_ingest_dedup", "documents", 1),
    # occurrence scan + the source metadata join, same floor as
    # bpe_trained_compression
    ("unigram_viterbi_stats", "documents", 2),
    # (trainer queries returning driver model state — bpe_train_merges,
    # unigram_train_pieces — are not pinnable here: their returned frame
    # is a local_frame with no corpus scan in its plan; the
    # unigram trainer's one-corpus-pass contract is accumulator-tested
    # in test_tokenize.py instead)
]


@pytest.mark.parametrize("name,table,budget", SCAN_BUDGETS)
def test_executed_plan_scan_budget(spark, name, table, budget):
    df = RAW_QUERIES[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()  # finalize AQE plan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    try:
        assert p.count(f"{table}.parquet") <= budget
    finally:
        spark.catalog.clearCache()
        from bearysta_spark.cachescope import release_scoped_caches

        release_scoped_caches()


# Registered queries whose build pins a scoped cache (directly or via a
# library call: LSH verify shingles, BM25 per-doc norms, Bloom bench
# grams, HLL registers, ...), so their registered form finalizes. The
# clustering queries are here too: connected components truncates its
# lineage through scratch parquet, so it pins nothing of its own.
CACHE_SCOPED_SAMPLE = [
    "expected_fill_combos",
    "cms_heavy_hitters",
    "simhash_pairs",
    "unigram_surprise",
    "source_tv_divergence",
    "user_cohort_retention",
    "token_lift_pairs",
    "hll_audience_overlap",
    "hll_overlap_sketch",
    "sketch_method_agreement",
    "near_dup_pairs",
    "jaccard_band_histogram",
    "prefix_jaccard_pairs",
    "bm25_keyword_topk",
    "bloom_decontam",
    "split_leakage_check",
    "gopher_repetition_report",
    "bigram_backoff_surprise",
    "lm_perplexity_buckets",
    "cluster_balanced_sample",
    "pretrain_funnel_report",
    "dsir_importance_select",
    "pca_top_component",
    "anisotropy_abtt_report",
    "tokenizer_fertility_agreement",
    "trigram_backoff_surprise",
    "trigram_perplexity_buckets",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_canonical_corpus",
    "dedup_canonical_by_quality",
    "dedup_cluster_purity",
]


# Registered queries whose build pins no scoped cache: their registered
# form returns the lazy plan instead of paying _finalize's parquet write
# and re-read, so running that plan must not leave a cached block
# behind either.
UNSCOPED_SAMPLE = [
    "eval_substring_decontam",
    "eval_substring_decontam_persisted",
    "embedding_dup_clusters",
]


@pytest.mark.parametrize("name", UNSCOPED_SAMPLE)
def test_unscoped_query_leaves_no_pinned_blocks(spark, name):
    from bearysta_spark.cachescope import release_scoped_caches

    spark.catalog.clearCache()
    release_scoped_caches()
    before = _persistent_rdd_ids(spark)
    df = QUERIES[name](spark, SF)
    # not finalized: no scan of a _finalize result directory (a query
    # may still scan scratch parquet its build wrote, as connected
    # components' labels)
    assert not re.search(r"mat_\w+_result", explained(df))
    assert _persistent_rdd_ids(spark) == before, f"{name} pinned RDDs"
    df.write.format("noop").mode("overwrite").save()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} left pinned RDDs {leaked} after running"


def test_eval_substring_decontam_builds_without_jobs(spark, jobs_during):
    # no count barrier while the plan is built, and no finalize write:
    # once the table's schema is known (a warm-up read), building runs
    # no job at all, and the returned frame scans the corpus, not a
    # mat_* scratch directory
    from bearysta_spark.tables import load_table

    load_table(spark, SF, "documents")
    built = []
    build = jobs_during(
        lambda: built.append(QUERIES["eval_substring_decontam"](spark, SF))
    )
    assert build == 0
    p = explained(built[0])
    assert "documents.parquet" in p
    assert "mat_" not in p


FINALIZED_CLUSTERING = [
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_canonical_corpus",
    "dedup_canonical_by_quality",
    "dedup_cluster_purity",
]


@pytest.mark.parametrize("name", FINALIZED_CLUSTERING)
def test_finalized_clustering_query_leaves_only_its_result_dir(spark, name):
    # the components labels directory the build wrote is deleted once
    # _finalize has copied the result; only mat_*_result is new
    import os

    from bearysta_spark.scratch import scratch_root

    def mats():
        root = scratch_root()
        return set(os.listdir(root)) if os.path.isdir(root) else set()

    before = mats()
    df = QUERIES[name](spark, SF)
    new = mats() - before
    assert len(new) == 1 and re.fullmatch(r"mat_\w+_result", new.pop()), new
    assert df.count() >= 0


def test_image_increment_reads_index_not_corpus(spark):
    # persisted-index image dedup: the corpus side must come from the
    # phash index FILES — corpus images are never re-read; only the
    # increment touches documents.parquet
    p = plan_of(spark, "image_phash_increment_persisted")
    assert "phash_index" in p
    assert p.count("documents.parquet") <= 1


def _persistent_rdd_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.mark.parametrize("name", CACHE_SCOPED_SAMPLE)
def test_cache_scoped_query_leaves_no_pinned_blocks(spark, name):
    # the one-shot query contract (r06): no cached frame survives a
    # registered helper's return — asserted straight off the
    # getPersistentRDDs map, per the r05 VERDICT's done-criterion
    from bearysta_spark.cachescope import release_scoped_caches

    spark.catalog.clearCache()
    release_scoped_caches()
    before = _persistent_rdd_ids(spark)
    df = QUERIES[name](spark, SF)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} left pinned RDDs {leaked} after return"
    assert df.count() >= 0  # result survives the cache release
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} left pinned RDDs {leaked} after running"


def test_query_is_finalized_when_its_build_pins_a_cache(spark):
    # registered with no option, a query whose build pins a scoped cache
    # (and runs an action on it, as a Bloom build or a token total does)
    # is finalized: its return leaves no pinned block and its plan scans
    # the materialized result in a mat_* scratch directory
    from bearysta_spark import queries as Q
    from bearysta_spark.cachescope import release_scoped_caches, scoped_cache

    name = "__pins_one_cache"

    def build(spark, sf_dir):
        ids = scoped_cache(spark.range(10))
        return ids.selectExpr(f"id + {ids.count()} AS x")

    try:
        Q.query(name)(build)
        spark.catalog.clearCache()
        release_scoped_caches()
        before = _persistent_rdd_ids(spark)
        df = Q.QUERIES[name](spark, SF)
        assert _persistent_rdd_ids(spark) == before
        assert "mat_" in explained(df)
        assert sorted(r.x for r in df.collect()) == list(range(10, 20))
    finally:
        for registry in (Q.QUERIES, Q.RAW_QUERIES, Q.ORACLE):
            registry.pop(name, None)
        release_scoped_caches()


@pytest.mark.parametrize("name", ["near_dup_pairs", "image_phash_pairs"])
def test_finalized_pair_query_result_is_distributed(spark, name):
    # r06 VERDICT finding #1: pair-emitting scoped queries must NOT
    # funnel their (corpus-proportional) result through the driver —
    # the finalized frame is a distributed parquet scan of the
    # materialized result, not a driver-local relation
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan, f"{name} finalized on the driver"
    assert "parquet" in plan.lower()
    assert df.count() >= 0


def test_cache_scope_isolation(spark):
    # r06 ADVICE: releasing one query's scope must not steal caches a
    # concurrent caller registered outside it (global) or in another
    # open scope
    from bearysta_spark.cachescope import (
        cache_scope,
        release_scoped_caches,
        scoped_cache,
    )

    release_scoped_caches()
    outer = scoped_cache(spark.range(5))
    outer.count()
    with cache_scope() as inner_scope:
        inner = scoped_cache(spark.range(7))
        inner.count()
        assert inner_scope.release() == 1  # frees ONLY the inner cache
    assert outer.storageLevel.useMemory  # global cache untouched
    assert inner_scope.release() == 0  # idempotent
    assert release_scoped_caches() == 1  # global drain frees outer
    assert not outer.storageLevel.useMemory


def test_substring_decontam_broadcast_and_no_corpus_shuffle(spark):
    """eval_substring_decontam (r12): the anchor join must broadcast
    the eval window set — corpus anchors die at a scan-side
    BroadcastHashJoin, never a SortMergeJoin shuffle of corpus keys —
    and the whole path stays JVM-side (no Python eval)."""
    p = plan_of(spark, "eval_substring_decontam")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    # the train-anchor stream must not sort-merge: that would shuffle
    # |bytes|/stride corpus keys
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_classifier_persisted_filter_weights_are_literal(spark):
    """quality_classifier_persisted_filter: serving scores via an
    element_at lookup on the broadcast weight LITERAL — no weight-table
    join anywhere (the margins path is one explode + two
    map-side-combinable sums)."""
    p = plan_of(spark, "quality_classifier_persisted_filter")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "element_at" in p
    assert "partial" in p.lower()  # map-side combine on the margin sums


def test_residual_recall_no_cartesian_outside_truth(spark):
    """imi_pq_residual_recall: candidate scoring is cell-equi-join +
    broadcast LUT; the only NestedLoop is the brute-force truth's
    deliberate qid != nid pair audit (bounded: |Q| broadcast)."""
    p = plan_of(spark, "imi_pq_residual_recall")
    assert "CartesianProduct" not in p
    # ADC rollup map-side combines
    assert "partial" in p.lower()


def test_clustered_and_opq_recall_no_cartesian_outside_truth(spark):
    """The r13 clustered-fixture audits inherit the residual-recall
    plan shape: cell-equi-join + broadcast LUT scoring, the clustered
    vector derived as a pure Catalyst transform (no Python eval in the
    corpus path outside the house Arrow kernels), and no cartesian
    anywhere but the |Q|-bounded brute-force truth."""
    for q in ("imi_pq_residual_recall_clustered", "imi_pq_opq_recall"):
        p = plan_of(spark, q)
        assert "CartesianProduct" not in p, q
        assert "partial" in p.lower(), q
