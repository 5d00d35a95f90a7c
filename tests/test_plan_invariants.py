"""Physical-plan regression tests: the 100 TB-relevant plan
properties asserted, not eyeballed (PERF.md invariants).

These catch silent regressions: a lost filter pushdown, a broadcast
that degraded to a shuffle, a generator lambda that re-inlines an
expensive expression.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from amazon_books_review_spark.plans.catalog import all_queries

SF = "/root/testdata/sf0.001"
QUERIES = all_queries()


def plan_of(spark, name: str) -> str:
    # Budgets measure the CACHE-FREE plan: a Dataset persisted by an
    # earlier test registers its subtree in the session-global cache
    # manager, and explain() then substitutes an InMemoryRelation into
    # any query sharing that subtree — Exchange counts become
    # order-dependent (ADVICE r14: the decontam hashed tier's persist
    # leaked into decontam_against_eval's plan, 10 vs budget 8).
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    return [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]


def test_flagship_pushdown_and_broadcast(spark):
    plan = plan_of(spark, "flagship_gold_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert any("o_orderdate" in f and "GreaterThanOrEqual" in f for f in pushed_filters(plan))


def test_q6_all_predicates_reach_scan(spark):
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    fs = " ".join(pushed_filters(plan))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in fs, f"{col} predicate not pushed: {fs}"


def test_q5_no_cartesian_no_smj(spark):
    plan = plan_of(spark, "tpch_q5_regional_revenue")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_cosine_topk_only_intended_nlj(spark):
    """The broadcast probe cross-join is the ONLY nested-loop, and the
    corpus side is never shuffled before scoring."""
    plan = plan_of(spark, "similarity_cosine_topk")
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # AQE prints initial+final
    assert "CartesianProduct" not in plan


def test_asof_join_bounded_shuffles(spark):
    """Union+window composition: shuffles stay bounded (per-input
    partitioning + window), no join blow-up."""
    plan = plan_of(spark, "asof_join_events_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted output with AQE lists initial+final; cap generously
    assert plan.count("Exchange") <= 8


@pytest.mark.parametrize(
    "name",
    [
        "text_token_stats",
        "text_quality_scores",
        "scalar_functions_showcase",
        "quality_logistic_score",
    ],
)
def test_map_only_queries_have_no_exchange(spark, name):
    """Pure per-row analysis stages must never shuffle."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, f"{name} acquired a shuffle"


def test_dsir_tokenizes_once(spark):
    """DSIR's (doc, bucket) grain is checkpointed: the final plan must
    read ONLY the checkpoint (zero parquet scans — re-tokenizing the
    corpus per consumer is the 100 TB anti-pattern), and the log-ratio
    table must join by broadcast, never shuffle."""
    plan = plan_of(spark, "dsir_importance_weights")
    assert "Scan parquet" not in plan, "corpus re-scanned past the checkpoint"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["weighted_sample_docs", "copurchase_pmi"])
def test_global_topk_is_take_ordered(spark, name):
    """The global rank<=k windows in the sampler and PMI must plan as
    TakeOrderedAndProject (per-partition partial top-k + k-row merge),
    NEVER a single-partition global sort — the difference between a
    top-k and shipping the corpus to one task at 100 TB."""
    plan = plan_of(spark, name)
    assert "TakeOrdered" in plan, f"{name} lost the TakeOrdered rewrite"
    # at most one single-partition exchange, and only DOWNSTREAM of
    # the TakeOrdered (the k-row rank window) — never on the scan side
    assert plan.count("SinglePartition") <= 1, f"{name} sorts globally"
    if "SinglePartition" in plan:
        assert plan.index("TakeOrdered") < plan.index("SinglePartition") or (
            "TakeOrderedAndProject" in plan
        ), f"{name}: single-partition exchange feeds the top-k, not the k rows"


def test_bm25_pushes_partial_topk(spark):
    """The per-term top-k must carry WindowGroupLimit (each mapper
    ships at most k candidate postings per term) and the probe-term
    filter must land under the explode, not after the shuffle."""
    plan = plan_of(spark, "bm25_topk_docs")
    assert "WindowGroupLimit" in plan, "per-term partial top-k pushdown lost"
    assert "SortMergeJoin" not in plan


def test_kmv_build_pushes_partial_topk(spark):
    """The KMV sketch build (row_number <= k per side) must carry the
    WindowGroupLimit pushdown — each mapper ships only k candidates
    into the per-side shuffle; the residual single-partition
    exchanges are the k-row/scalar merges, bounded by contract."""
    plan = plan_of(spark, "kmv_intersection_audit")
    assert "WindowGroupLimit" in plan, "partial top-k pushdown lost"


def test_zipf_reduces_before_window(spark):
    """The per-language top-V window must ride the (lang, term) grain
    — vocabulary-sized, never token-sized — and nothing in the plan
    may fall back to a non-broadcast join."""
    plan = plan_of(spark, "zipf_slope_by_lang")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # tokenize -> (lang,term) agg -> per-lang window -> per-lang agg:
    # bounded exchanges (AQE formatted output prints initial+final)
    assert plan.count("Exchange") <= 8, plan.count("Exchange")


# ---------------------------------------------------------------------------
# Per-headline-query plan snapshots (VERDICT r1 next-step #6)
#
# Budgets are the measured `explain("formatted")` operator counts at
# sf0.001 under AQE (which prints initial+final, hence the even
# numbers).  A regression — a dropped broadcast hint degrading to
# SortMergeJoin, an extra Exchange from a lost partitioning reuse —
# breaks the budget and fails here before it ships.
# ---------------------------------------------------------------------------

#: name -> (max Exchange count, min BroadcastHashJoin count,
#:          max BroadcastNestedLoopJoin count[, max SortMergeJoin count])
#: SMJ defaults to forbidden; a nonzero allowance marks joins whose
#: build side genuinely isn't broadcastable at scale (AQE may still
#: downgrade them to broadcast at runtime on small inputs).
PLAN_BUDGETS: dict[str, tuple] = {
    "flagship_gold_rollup": (4, 2, 0),
    "tpch_q1_pricing_summary": (2, 0, 0),
    "tpch_q3_shipping_priority": (6, 4, 0),
    "tpch_q5_regional_revenue": (12, 10, 0),
    "tpch_q18_large_orders": (6, 4, 0),
    "top_orders_per_customer": (2, 0, 0),
    "asof_join_events_orders": (4, 0, 0),
    "dedup_neardup_lsh_verified": (14, 6, 0),
    "dedup_minhash_lsh": (10, 2, 0),
    # r16 pipelined verify: vectors attach to signature rows BEFORE
    # the (table, sig) bucket join, so the SMJs are the sig->vector
    # attach + bucket join — neither side broadcastable at 100 TB
    "embedding_neardup_lsh_verified": (10, 4, 0, 2),
    # r17 GEMM-scored bitext miner (VERDICT r16 #4): signature passes
    # are map-only (the one-matmul Arrow kernel); the bucket join is
    # now the per-bucket GEMM kernel — one (table, sig) repartition
    # exchange + within-partition sort + MapInPandas, NO join operator
    # at candidate scale (pairs are generated and scored in numpy, so
    # the former bucket-join SMJs are gone).  Exchanges: 2 sig->vector
    # attaches (BHJ at test scale, SMJ at 100 TB), the (table, sig)
    # repartition, the per-pair max(cos_q) dedupe, and the margin
    # tail's two mutual-rank windows.
    "bitext_margin_mining_lsh": (12, 4, 0, 2),
    # r17 forced Hamming-<=2 near-dup (VERDICT r16 #1): single
    # exploded arm -> (table, sig) repartition -> GEMM -> per-pair
    # max(sim) dedupe; the BHJ is the sig->vector attach
    "embedding_neardup_lsh_probe2": (6, 2, 0, 2),
    "hard_negative_mining_lsh": (10, 6, 0),
    # the probe cross-join is the intended (bounded) nested loop
    "similarity_cosine_topk": (4, 0, 2),
    "similarity_ivf_topk": (10, 2, 2),
    "text_token_stats": (0, 0, 0),
    "word_count_top": (2, 0, 0),
    "tpch_q2_min_cost_supplier": (24, 18, 0),
    "tpch_q7_nation_volume": (12, 10, 0),
    "tpch_q8_market_share": (16, 14, 0),
    "tpch_q10_returned_items": (8, 6, 0),
    "tpch_q17_small_quantity_revenue": (10, 6, 0),
    "tpch_q19_disjunctive_revenue": (4, 2, 0),
    # the 2 BNLJs are the intended broadcast of the 1-row scalar AVG
    "tpch_q22_dormant_customers": (10, 4, 2),
    "corpus_prep_pipeline": (4, 2, 0),
    # derived-cost re-join on (part, supp) is SMJ by design — the
    # aggregate side matches the fact side's scale
    "tpch_q9_product_profit": (16, 10, 0, 2),
    # round-6 additions: the remaining TPC-H shapes
    # the 2 BNLJs are the intended 1-row global-total broadcast
    "tpch_q11_important_stock": (8, 0, 2),
    "tpch_q12_priority_shipping": (4, 2, 0),
    "tpch_q15_top_supplier": (10, 4, 0),
    "tpch_q16_supplier_part_counts": (10, 4, 0),
    "tpch_q20_dominant_suppliers": (14, 6, 0),
    # the 4 SMJs are the semi/anti pair-set probes: fact-sized on both
    # sides at 100 TB, keyed on orderkey — broadcast would be wrong
    "tpch_q21_sole_late_supplier": (22, 8, 0, 4),
    # exchanges include the dim subquery duplicated into the DPP
    # runtime filter; the scan-side pruning is what the count buys
    "dpp_partitioned_scan": (12, 2, 0),
    # round-4 additions
    # eval-gram probe + hits re-join are broadcast; corpus never shuffles
    "decontam_against_eval": (8, 4, 0),
    "training_shard_manifest": (2, 0, 0),
    # serving (broadcast) strategy: probe sigs + candidates + vector
    # re-attachments are all BHJs, corpus never shuffles; the old
    # 18-Exchange/2-BNLJ budget predates the r15 signature kernel
    "similarity_lsh_topk": (10, 6, 0),
    # r18 batch (gemm) strategy: vectors attach to both arms (2 BHJ
    # pairs), ONE (table, sig) hash exchange feeds the mapInPandas
    # kernel, then the pair-dedupe agg + rank window — no BNLJ, no
    # candidate re-attachment joins
    "similarity_lsh_knngraph": (10, 4, 0),
    # mutual edges: graph materialized ONCE (localCheckpoint — the
    # plan shows only the pair-keyed self-join: 2 SMJ legs over
    # narrow checkpoint scans, no vector re-compute)
    "similarity_lsh_knngraph_mutual": (4, 0, 0, 2),
    # r19: star components truncate lineage per round, so the final
    # plan is the label agg over checkpoint leaves — pure narrow
    # exchanges, no join operator survives
    "embedding_semdedup_clusters": (4, 0, 0),
    "embedding_semdedup_certified": (4, 0, 0),
    # keeper policy: norms attach (BHJ at test scale, SMJ at 100 TB
    # would be fine too — both sides narrow), then rank + kept-id
    # share ONE (cluster_id) window partitioning
    "embedding_semdedup_keepers": (8, 2, 0),
    "jsonl_corpus_roundtrip": (0, 0, 0),
    "orc_lineitem_roundtrip": (2, 0, 0),
    "multimodal_decode_meta": (0, 0, 0),
    # r12 REAL decodes: payload build + mapInPandas are one map stage
    "multimodal_pixel_stats": (0, 0, 0),
    "multimodal_pcm_stats": (0, 0, 0),
    # r12 bitext mining: the BNLJ is the deliberate cross-score
    # fan-out (cosine_topk's shape); one window shuffle per direction
    # (3 physical exchanges: broadcast + 2 window hashpartitionings)
    "bitext_margin_mining": (6, 0, 2),
    # scale shape: same-cell equi-join candidates (broadcast at test
    # sf, shuffle at scale) + the two window partitionings
    "bitext_margin_mining_cells": (8, 0, 0, 2),
    # r12 hard negatives: cosine_topk's shape (probe BNLJ + 1 window)
    "hard_negative_mining": (4, 0, 2),
    # the 2 SMJs are one logical merge join on (orderkey, salt) — the
    # deliberately-hinted shuffle path the salting demo exists for
    "salted_join_priority_revenue": (6, 0, 0, 2),
    # ONE Exchange pair (the final agg): the merge join itself reads
    # bucket metadata and shuffles nothing — the whole point
    "bucketed_join_status_rollup": (2, 0, 0, 2),
    # round-6 LLM-pipeline additions
    # docs ⋈ clusters is SMJ by design: the cluster map is doc-scale
    # at 100 TB (checkpointed components output, no stats)
    "dedup_cluster_canonical": (8, 0, 0, 2),
    "doc_chunk_windows": (0, 0, 0),
    "doc_chunk_windows_udtf": (0, 0, 0),
    "quality_weighted_sample": (0, 0, 0),
    "variant_props_extract": (2, 0, 0),
    # decorrelated LATERAL pair: the orders⋈max-price re-join is
    # fact×agg on both sides — SMJ by design
    "lateral_top_order_per_customer": (26, 8, 0, 2),
    "embedding_quantize_int8": (0, 0, 0),
    # custom Python Data Source scans: file-parallel, no shuffle
    # beyond the rollup agg
    "warcish_roundtrip": (0, 0, 0),
    "warcish_pruned_scan": (2, 0, 0),
    # unpivot is an Expand projection: zero shuffle is the invariant
    "unpivot_doc_metrics": (0, 0, 0),
    # cogroup shuffles both sides on the key — exactly one Exchange
    # pair, no join node
    "cogroup_user_purchase_gap": (4, 0, 0),
    # round-6 scale-ops additions
    # candidate recount joins BROADCAST the MG sketch union (bounded
    # by cap x partitions); the 2 BNLJs are the 1-row total broadcast
    "heavy_hitters_mg": (12, 1, 2),
    # per-type sketches re-aggregated for the union + exact distincts;
    # the BNLJ is the 1-row global-distinct broadcast
    "hll_distinct_audit": (16, 0, 2),
    # one user_id shuffle serves both windows; groupBy rides the same
    # partitioning
    "scd2_user_segments": (3, 0, 0),
    # final plan reads the localCheckpoint of iteration 5: the
    # iteration shuffles are spent, the top-k is TakeOrdered + a
    # 20-row rank window
    "pagerank_copurchase": (2, 0, 0),
    # final plan reads the round-3 label checkpoint: per-round
    # shuffles are spent; what's left is the size rollup + the
    # broadcast size join
    "label_propagation_communities": (4, 2, 0),
    # wedge self-join broadcasts the checkpointed edge list at test
    # SF (hence only min 2 BHJ pinned: the hub-weight broadcast and
    # the anti-join); at scale it degrades to the co-partitioned
    # SMJ the repartition("src") laid out — hence the allowance
    "adamic_adar_linkpred": (10, 2, 0, 2),
    # assignment is map-only over the scan (centroids arrive as
    # literals); zero Exchange is the invariant
    "kmeans_quantized_assign": (0, 0, 0),
    # routed assignment is the same map-only shape: coarse seeds and
    # cell membership ship as driver-computed literals, zero Exchange
    "kmeans_routed_assign": (0, 0, 0),
    # edge-iterator triangles (r19 shape): the degree table is
    # checkpointed node-scale (its joins sit BELOW the orientation
    # checkpoint and no longer appear here); adjacency joins are SMJ —
    # the documented 100 TB posture (edge-sized payloads, deliberately
    # un-hinted; at test scale they no longer auto-broadcast because
    # the checkpoint hides the small size estimate, which is the
    # at-scale plan anyway).  The 4 BNLJ are the two 1-row scalar
    # crossJoins.  NO wedge-sized shuffle exists in the plan — that's
    # the invariant that un-quarantined it (r7).
    "triangle_count_copurchase": (18, 0, 4, 4),
    # MERGE: one full-outer SMJ on the key (both sides shuffle once)
    # plus the source-union's scan — full outer can't broadcast
    "merge_upsert_orders": (4, 0, 0, 2),
    # CDF diff: the merge's full-outer SMJ plus the diff's own — two
    # logical joins, each one Exchange pair; change fan-out is in-row
    "cdc_orders_changes": (8, 0, 0, 4),
    # weights/quota/feasible-total are all broadcast; the BNLJ pair is
    # the 1-row feasible-total cross join
    "mixture_rebalance_corpus": (18, 4, 2),
    # ONE shuffle (the user_id window key) serves both RANGE aggs
    "rolling_hour_user_stats": (2, 0, 0),
    # segment rank window (shuffle on seg) + doc_id reassembly agg:
    # two real exchanges, no join
    "dedup_segments_corpus": (4, 0, 0),
    # doc-frequency agg on seg + join back (freq side broadcasts at
    # test scale) + reassembly
    "boilerplate_segment_removal": (8, 0, 0),
    # cluster-id self-join (SMJ: both sides the full vec set) + the
    # droppers joined back (broadcast at test scale)
    "semdedup_embeddings": (6, 0, 0, 2),
    # broadcast fan-out against 16 sign rows: the only Exchange pair
    # is the BroadcastExchange itself — zero shuffles (BNLJ pair =
    # the unconditioned broadcast cross join)
    "embedding_random_projection": (2, 0, 2),
    # sketch agg + tiny result broadcast back for the exact recount:
    # two aggs, one BHJ, no SMJ
    "quantile_sketch_audit": (6, 1, 0),
    # native aggs + pandas UDAF composed via broadcast join on the
    # tiny group key (GROUPED_AGG can't share an agg with JVM fns)
    "pandas_udf_doc_stats": (8, 1, 0),
    # round-6 corpus statistics
    # ONE term shuffle: both windows (df count + WindowGroupLimit rank)
    # and the final groupBy share the partitioning
    "inverted_index_postings": (2, 0, 0),
    # (doc,term) agg + term-keyed rollup/join + doc-grain finish; the
    # BNLJ pair is the 1-row vocab-total broadcast
    "unigram_logprob_score": (18, 2, 2),
    # corpus -> word-type freq table -> pair explode -> pair agg
    "bpe_pair_counts": (4, 0, 0),
    # ONE source shuffle serves mean/stddev/percent_rank windows
    "source_zscore_quality": (2, 0, 0),
    # round-6 behavioral analytics + ER
    # ONE user shuffle, three chained stage windows, no self-joins
    "funnel_conversion": (2, 0, 0),
    # lead() window shuffle + the |types|^2 rollup
    "event_transition_matrix": (4, 0, 0),
    # ONE user shuffle serves both attribution windows + final rollup
    "purchase_attribution": (4, 0, 0),
    # grouped pass + the DISTINCT-listagg expand phase (two Exchange
    # pairs); still no window and no join — that IS the showcase
    "modern_aggregates_showcase": (4, 0, 0),
    # three top-k pipelines (exact + 2 IVF widths) + recall joins; the
    # BNLJ are the intended probe broadcasts, SMJ the recall joins
    "ann_recall_audit": (32, 4, 6, 4),
    # SQL UDFs inline: one agg Exchange pair, zero Python eval nodes
    "sql_udf_rollup": (2, 0, 0),
    # pure per-row rule evaluation: zero Exchange is the invariant
    "gopher_quality_rules": (0, 0, 0),
    # row-local sorted-run accumulation: zero Exchange is the invariant
    "gopher_repetition_rules": (0, 0, 0),
    # user window + keyed-distinct/rollup pair
    "cohort_retention_weekly": (4, 0, 0),
    # name-type distinct + broadcast block join (vocab-bounded)
    "fuzzy_name_matches": (6, 2, 0),
    # round-6 SQL-surface wave
    # calendar-sized spine + day-cardinality rollup, both broadcastable
    "date_spine_gapfill": (6, 2, 0),
    # recursive-CTE internals hide inside the UnionLoop node (static
    # formatted plan shows only the outer agg pair); generous cap
    "copurchase_reach": (12, 0, 0),
    # parameter binds constant-fold: pushed scan + one agg pair
    "parameterized_order_rollup": (2, 0, 0),
    # round-6 governance wave
    # ONE quasi-identifier shuffle, map-side band bucketing
    "k_anonymity_audit": (2, 0, 0),
    # label groupBy + 1-row totals broadcast (the BNLJ pair)
    "label_drift_kl": (8, 0, 2),
    # two tiny-key percentile aggs broadcast back to fact rows
    "mad_outlier_flags": (12, 6, 0),
    # round-9: zero-shuffle map-stage entropy scan
    "char_entropy_quality": (0, 0, 0),
    # round-9: 4 audited keys x (key-grain shuffle + scalar merge);
    # the rank window rides the key-count table, never fact rows
    "skew_key_audit": (16, 0, 0),
    # round-9 IVM: three full-outer key joins (merge diff, CDC diff,
    # base+delta combine) — full-outer cannot broadcast, SMJ by design
    "incremental_agg_orders": (12, 0, 0, 6),
    # round-9 retrieval: postings-of-query shuffle + broadcast df/stats;
    # per-term top-k must keep the WindowGroupLimit pushdown
    # the 2 BNLJs are the intended broadcast of the 1-row corpus stats
    "bm25_topk_docs": (14, 2, 2),
    # round-9 containment verify rides the same LSH path as
    # dedup_neardup_lsh_verified
    "minhash_containment_pairs": (14, 4, 0),
    # round-9: probe-broadcast silhouette — the BNLJ is the intended
    # bounded probe x corpus fan-out (same shape as the ANN audits)
    "kmeans_silhouette_audit": (6, 0, 2),
    # round-9 hilbert layout, r19 shape: bounds-broadcast BNLJ over the
    # code fold only — the range partitioner's sampling pass + exchange
    # + sort moved out of the catalog check (they only reordered rows;
    # the write path keeps them).  Budget = the 1-row bounds agg pair.
    "hilbert_layout_codes": (4, 0, 2),
    # zorder got the IDENTICAL r19 factoring (zorder_by -> layout.
    # zorder_codes) and the same budget pins it (ADVICE r19: without
    # an entry a regression reintroducing the sampling pass +
    # exchange in the code-check entry would go uncaught)
    "zorder_morton_codes": (4, 0, 2),
    # round-9 join pre-flight, r19 shape: the key-grain product table
    # is checkpointed and consumed by a totals agg + a TakeOrdered
    # top-N (the global row_number over every matched key is gone);
    # the 2 BNLJ are the 1-row top-sum broadcast crossJoin, the SMJ
    # allowance is the key-grain join at scale
    "join_size_preflight": (6, 0, 2, 2),
    # round-9 corpus ops: gram-grain df join; doc-grain verdict joins;
    # recursion frontier x broadcast vocab; scalar-broadcast tempering;
    # token histogram over the shared word-type checkpoint
    "gram_novelty_scores": (6, 2, 0),
    # r20 fusion: the three verdicts compute in ONE projection over ONE
    # scan — zero joins; the only Exchange pair is the single-row agg
    "corpus_filter_funnel": (2, 0, 0),
    "wordpiece_tokenize": (6, 2, 0),
    "temperature_mixture_weights": (8, 0, 2),
    "bpe_apply_tokenize": (2, 0, 0),
    # round-10 additions.  RRF's full-outer fusion join is SMJ by
    # Spark's rules (full outer cannot broadcast) but both inputs are
    # top-k-bounded; the BNLJs are the intended 1-row/ k-row scalar
    # broadcasts (BM25 stats, the prior cross-attach).  Matryoshka's
    # SMJs are the (query, neighbor) overlap joins on k-bounded arms.
    "rrf_hybrid_retrieval": (40, 2, 6, 4),
    "matryoshka_recall_audit": (22, 0, 6, 6),
    "salted_topk_per_group": (6, 0, 0),
    "compaction_bin_packing": (6, 0, 0),
    "epoch_shuffle_assignment": (4, 0, 0),
    "dedup_url_normalized": (6, 0, 0),
    "l_diversity_audit": (6, 0, 0),
    "corr_matrix_numeric": (4, 0, 0),
    # the 2 BNLJs are the intended 1-row totals x top-language attach
    "dataset_card_stats": (12, 0, 2),
    "binaryfile_ingest_meta": (2, 0, 0),
    # post-checkpoint plan: the two side rollups + union (per-round
    # peel lineage is truncated like pagerank's)
    "kcore_order_part": (8, 0, 0),
    # the 2 BNLJs are the intended 1-row totals broadcast; exchanges
    # include the empty-partition window total over the band frame
    "psi_price_drift": (12, 0, 2),
    # same shape: 1-row total broadcast + bucket-frame window
    "doc_length_histogram": (12, 0, 2),
}


def test_budget_gate_catches_lost_broadcast(spark):
    """Meta-test: the budget gate detects real degradation.  The
    flagship join WITHOUT its broadcast hint and with auto-broadcast
    disabled plans as a SortMergeJoin — exactly the regression
    signature the budgets forbid — so removing the hint in the
    product code would fail test_headline_plan_budget."""
    import contextlib
    import io

    from amazon_books_review_spark.sources.io import load_table
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF, "orders")
        customer = load_table(spark, SF, "customer")
        degraded = (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("o_orderkey").alias("n"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            degraded.explain("formatted")
        assert "SortMergeJoin" in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


#: entries whose graph loop takes the small-input local arm at sf0.001;
#: their PLAN_BUDGETS rows pin the distributed loop, so they are
#: checked with the arm off (the ``distributed_arm`` fixture)
LOCAL_ARM_ENTRIES = frozenset({
    "pagerank_copurchase",
    "label_propagation_communities",
    "dedup_cluster_canonical",
    "embedding_semdedup_clusters",
    "embedding_semdedup_certified",
    "embedding_semdedup_keepers",
})


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_headline_plan_budget(spark, name, request):
    if name in LOCAL_ARM_ENTRIES:
        request.getfixturevalue("distributed_arm")
    budget = PLAN_BUDGETS[name]
    max_ex, min_bhj, max_bnlj = budget[:3]
    max_smj = budget[3] if len(budget) > 3 else 0
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} grew a cartesian join"
    ex = plan.count("Exchange")
    bhj = plan.count("BroadcastHashJoin")
    bnlj = plan.count("BroadcastNestedLoopJoin")
    smj = plan.count("SortMergeJoin")
    assert ex <= max_ex, f"{name}: {ex} Exchanges (budget {max_ex})"
    assert bhj >= min_bhj, f"{name}: {bhj} BroadcastHashJoins (need >= {min_bhj})"
    assert bnlj <= max_bnlj, f"{name}: {bnlj} BNLJs (budget {max_bnlj})"
    assert smj <= max_smj, f"{name}: {smj} SortMergeJoins (budget {max_smj})"


#: name -> max Spark jobs a SECOND build of the entry may launch at
#: sf0.001, after one warm build.  Eager jobs (``materialize``,
#: ``count``/``first``, parquet schema inference) run while the query
#: is built, on every execution.  Set from HEAD; only ever tightened.
#: The ingest entries run their writes and streaming drains while they
#: are built, so every job of theirs counts: the rollup's is two AQE
#: shuffle-map jobs and one snapshot write per micro-batch.
EAGER_BUDGETS: dict[str, int] = {
    "flagship_gold_rollup": 0,
    "tpch_q1_pricing_summary": 0,
    "tpch_q3_shipping_priority": 0,
    "tpch_q9_product_profit": 0,
    "tpch_q21_sole_late_supplier": 0,
    "text_token_stats": 0,
    "top_orders_per_customer": 0,
    "funnel_conversion": 0,
    "clean_books_ratings_csv": 3,
    "streaming_windowed_counts": 1,
    "streaming_dedup_events": 3,
    "streaming_incremental_rollup": 11,
    "orc_lineitem_roundtrip": 1,
    # the small-graph local arm: the edge-list checkpoint, its Arrow
    # fetch and the upstream shuffle-map jobs; no per-round jobs
    "pagerank_copurchase": 6,
    "label_propagation_communities": 4,
    "embedding_semdedup_clusters": 11,
}


@pytest.mark.parametrize("name", sorted(EAGER_BUDGETS))
def test_eager_job_budget(spark, name):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    QUERIES[name](spark, SF)
    first = dag.nextJobId()
    QUERIES[name](spark, SF)
    jobs = dag.nextJobId() - first
    assert jobs <= EAGER_BUDGETS[name], (
        f"{name}: {jobs} eager jobs on a warm build (budget {EAGER_BUDGETS[name]})"
    )


def test_bench_headline_names_resolve():
    """Every bench.HEADLINE name must exist in the catalog (a typo
    would surface only as an err row in the round artifact), carry no
    duplicates, and keep the r03-comparable prefix stable."""
    import bench

    names = set(all_queries())
    missing = [n for n in bench.HEADLINE if n not in names]
    assert not missing, f"bench.HEADLINE references unknown queries: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate bench entries"
    assert bench.R03_SET == bench.HEADLINE[: len(bench.R03_SET)], (
        "the r03-comparable prefix moved — cross-round totals break"
    )
    budgetless = sorted(set(PLAN_BUDGETS) - names)
    assert not budgetless, f"PLAN_BUDGETS references unknown queries: {budgetless}"


def test_runtime_bloom_filter_injected(spark):
    """The bloom demo's inner join must actually receive the runtime
    filter: a bloom aggregate on the creation (orders) side and a
    might_contain predicate on the application (lineitem) side —
    without the injection the query is just a plain join and the demo
    is vacuous."""
    from amazon_books_review_spark.plans.sqlsurface_queries import (
        _BLOOM_CONFS,
        _bloom_join,
    )

    old = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        df = _bloom_join(spark, SF)
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan, "runtime bloom filter not injected"
    assert "bloom_filter_agg" in plan or "BloomFilter" in plan


def test_sql_udf_inlines_no_python_boundary(spark):
    """CREATE FUNCTION ... RETURN bodies must inline as Catalyst
    expressions — a Python eval node here would mean the engine
    regressed to the serialization boundary SQL UDFs exist to avoid."""
    plan = plan_of(spark, "sql_udf_rollup")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bench_stdout_line_fits_driver_tail():
    """The driver keeps only the LAST 2000 chars of bench stdout and
    parses the final line as JSON; the full per-query map overflowed
    that window every round since r4 (``parsed: None`` in
    BENCH_r04..r08).  _fit_line must emit a line under the budget with
    the r03 series intact and the omitted remainder accounted for."""
    import json

    import bench

    # worst plausible case: every catalog query timed, long names
    timings = {n: round(0.123 + i * 0.017, 3) for i, n in enumerate(sorted(all_queries()))}
    summary = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "r03_subset_total": 24.0,
        "n_timed": len(timings),
        "n_errors": 0,
        "sf": 0.1,
    }
    line = json.dumps(bench._fit_line(summary, timings))
    assert len(line) <= 2000, len(line)
    parsed = json.loads(line)
    for n in bench.R03_SET:
        assert n in parsed["queries"], f"r03 series member {n} dropped"
    reconstructed = sum(parsed["queries"].values()) + parsed["queries_other_total"]
    assert abs(reconstructed - summary["value"]) < 0.05
    assert parsed["queries_omitted"] == len(timings) - len(parsed["queries"])


def test_decontam_budget_order_independent(spark):
    """Regression (ADVICE r14): materializing the hashed decontam tier
    must NOT change the exact tier's plan.  The hashed tier used to
    ``persist()`` its eval-gram set; the Dataset cache manager then
    substituted an InMemoryRelation into ``decontam_against_eval``'s
    identical analyzed subtree, and its Exchange count depended on
    test order (10 vs budget 8 when parity ran first).  The engine now
    uses ``localCheckpoint`` (RDD storage, no cache-manager entry), so
    the RAW explain — deliberately without plan_of's clearCache — must
    stay inside budget right after the hashed tier runs."""
    QUERIES["decontam_hashed_prefilter"](spark, SF).count()  # materialize
    df = QUERIES["decontam_against_eval"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "InMemoryRelation" not in plan, "hashed tier leaked cache state"
    max_ex, min_bhj, _ = PLAN_BUDGETS["decontam_against_eval"][:3]
    assert plan.count("Exchange") <= max_ex
    assert plan.count("BroadcastHashJoin") >= min_bhj
