#!/usr/bin/env python3
"""Time catalog entries at $SPARK_GRAFT_SF_DIR (default sf0.1).

    python bench.py               # the HEADLINE entries
    python bench.py --appendix    # every other catalog entry
    python bench.py NAME [NAME ...]

Every mode times through ``time_entries``, in one Spark session sized
to the host like ``querybench/run.py`` (``SPARK_GRAFT_CPUS`` cores,
else the CPUs this process may use; driver heap a quarter of
MemTotal, at most 16g):

1. warm-up: each entry runs once at sf0.001
   ($SPARK_GRAFT_WARMUP_SF_DIR).  The schemas match the timed scale,
   so this fills the codegen cache, the noop-sink committer and the
   broadcast machinery of every plan before its timed run.  An entry
   that fails here is an error row and is not timed.
2. re-layout, untimed: querybench's ``relayout`` rewrites every table
   as contiguous pyarrow slices, ``max(4, cores // 2)`` files each, so
   rows keep their order.  The source tables are one row group each,
   and a row group is Spark's smallest split, so without it every scan
   runs on one task.
3. ``prestage_inputs``, untimed: the process-cached fixtures (streaming
   feeds, the warcish container) that the timed entries read are
   staged at the timed scale.
4. one querybench ``execute`` per entry through the noop sink, which
   times construction (``construct_s``, including the eager jobs the
   iterative operators run while building) and the action
   (``action_s``) apart.  An entry that raises costs one error row.

The headline prints ONE compact JSON line, cut to fit the 2000-char
stdout tail a driver keeps (``_fit_line``):
    {"metric": "headline_total", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "r03_subset_total": <sec|null>,
     "n_timed": N, "n_errors": N, "sf": <sf>, ...}
and writes the complete record to BENCH_LOCAL_r{N}.json; the appendix
writes BENCH_APPENDIX_r{N}.json.  N is one past every existing
BENCH_r*, BENCH_LOCAL_r* and BENCH_APPENDIX_r* file in the repo
($SPARK_GRAFT_ROUND overrides it).  Named entries print one JSON line
each and write no file.

One shot per entry is a single sample: wall times on one host drift
by 15-30% between sessions.  To compare two versions of the code,
alternate runs of both (PERF.md "How to A/B").
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF_DIR = os.environ.get(
    "SPARK_GRAFT_WARMUP_SF_DIR",
    os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001"),
)

#: The headline workload: the reference's analytical core, the TPC-H
#: shapes, and one of each north-star family.
HEADLINE = [
    "flagship_gold_rollup",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q18_large_orders",
    "tpch_q2_min_cost_supplier",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_dormant_customers",
    "tpch_q9_product_profit",
    "top_orders_per_customer",
    "asof_join_events_orders",
    # the SCALE-PATH near-dup operator benches here; the exact
    # all-pairs variant (dedup_ngram_jaccard) stays correctness-only —
    # its quadratic shingle self-join is precisely what the two-stage
    # operator exists to avoid.
    "dedup_neardup_lsh_verified",
    "dedup_minhash_lsh",
    # likewise the embedding near-dup: the two-stage LSH-verified form
    # benches; embedding_neardup_pairs (exact O(n^2)) is verify-only.
    "embedding_neardup_lsh_verified",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "text_token_stats",
    "word_count_top",
    "corpus_prep_pipeline",
    "streaming_windowed_counts",
]

#: r3-comparable prefix: BENCH_r03.json timed exactly HEADLINE above.
R03_SET = list(HEADLINE)

#: Round 4 (VERDICT r3 #8): every query newly entering the driver
#: window gets a recorded timing, so r5 can grade the whole catalog's
#: hot set against the 2x bar.  BENCH_r04.json "queries" is therefore a
#: strict superset of r03's; the r03-comparable subtotal is emitted as
#: ``r03_subset_total`` alongside the (larger) headline total.
HEADLINE += [
    # remaining TPC-H shapes
    "tpch_q4_priority_check",
    "tpch_q6_forecast_revenue",
    "tpch_q13_order_histogram",
    "tpch_q14_promo_share",
    # text / hygiene family
    "text_extract_urls",
    "text_pii_redaction",
    "text_repetition_stats",
    "text_strip_html",
    "text_tfidf_top_terms",
    "text_lang_id",
    "text_quality_scores",
    "url_domain_counts",
    # sampling / layout / windows
    "train_val_test_assignment",
    "stratified_sample_docs",
    "window_functions_showcase",
    "value_percentiles",
    "zorder_morton_codes",
    # multimodal + reference CSV pipelines
    "multimodal_decode_meta",
    "clean_books_details_csv",
    "clean_books_ratings_csv",
    # training-data hygiene (new in r4)
    "decontam_against_eval",
    # round-13: hashed-prefilter decontam (large-eval-suite shape)
    "decontam_hashed_prefilter",
    "training_shard_manifest",
    # interchange-format round-trips (new in r4)
    "jsonl_corpus_roundtrip",
    "orc_lineitem_roundtrip",
    # skew mitigation + co-location (new in r4)
    "salted_join_priority_revenue",
    "bucketed_join_status_rollup",
    # streaming + misc re-checks whose last timing predates r2
    "streaming_dedup_events",
    "streaming_stream_static_join",
    "streaming_stream_stream_join",
    "similarity_lsh_topk",
    "sliding_window_counts",
    "stats_moments",
    "temporal_roundtrip",
    # round-6: the remaining TPC-H shapes + audio decode (new window
    # entrants get a recorded timing, same policy as r4)
    "tpch_q11_important_stock",
    "tpch_q12_priority_shipping",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_dominant_suppliers",
    "tpch_q21_sole_late_supplier",
    "multimodal_audio_meta",
    "sessionize_events_stateful",
    "dpp_partitioned_scan",
    "streaming_session_window_counts",
    # round-6 LLM-pipeline additions (doc_chunk_windows_udtf is the
    # deliberate Python-boundary demo — excluded like dedup_ngram_jaccard
    # so the bench reflects the scale paths)
    "dedup_cluster_canonical",
    "doc_chunk_windows",
    "quality_weighted_sample",
    "variant_props_extract",
    "lateral_top_order_per_customer",
    "embedding_quantize_int8",
    # custom Python Data Source ingest path (write fixture + scan)
    "warcish_roundtrip",
    "warcish_pruned_scan",
    "streaming_warcish_ingest",
    "unpivot_doc_metrics",
    "cogroup_user_purchase_gap",
    # round-6 scale-ops wave (sketches, SCD2, fixed-point iterative)
    "heavy_hitters_mg",
    "hll_distinct_audit",
    "scd2_user_segments",
    "pagerank_copurchase",
    "kmeans_quantized_assign",
    "mixture_rebalance_corpus",
    "rolling_hour_user_stats",
    "pandas_udf_doc_stats",
    # round-6 third wave: semantic + exact-span dedup
    "semdedup_embeddings",
    "dedup_segments_corpus",
    "boilerplate_segment_removal",
    "embedding_random_projection",
    "quantile_sketch_audit",
    # round-6 fifth wave: corpus statistics (inverted index, unigram
    # LM scoring, BPE pair counts, group-normalized quality)
    "inverted_index_postings",
    "unigram_logprob_score",
    "bpe_pair_counts",
    "source_zscore_quality",
    # round-6 sixth wave: behavioral analytics + entity resolution
    "funnel_conversion",
    "event_transition_matrix",
    "cohort_retention_weekly",
    "fuzzy_name_matches",
    # round-6 seventh wave: modern SQL surface (recursive CTE pays the
    # same edge-derivation self-join pagerank does — ~6s of its ~7s)
    "date_spine_gapfill",
    "copurchase_reach",
    "parameterized_order_rollup",
    # round-6 eighth wave: data governance
    "k_anonymity_audit",
    "label_drift_kl",
    "mad_outlier_flags",
    # round-7: triangle counting un-quarantined (VERDICT r6 #3).  The
    # r6 three-way wedge self-join carried a ~1.3e9-row SMJ on the
    # dense sf0.1 graph (1.2M edges / 148M wedges); the edge-iterator
    # rewrite does the same O(E^1.5) arithmetic as map-side
    # array_intersect over sorted O(sqrt(E))-bounded adjacency arrays
    # — ~4s warm at sf0.1 under the locked zero-wedge-shuffle plan.
    "triangle_count_copurchase",
    # round-7 additions
    "kmeans_routed_assign",
    "streaming_stream_stream_join_salted",
    "merge_upsert_orders",
    "cdc_orders_changes",
    "runtime_bloom_join_reduction",
    "purchase_attribution",
    "modern_aggregates_showcase",
    "ann_recall_audit",
    "sql_udf_rollup",
    "gopher_quality_rules",
    "gopher_repetition_rules",
    # round-8 additions
    "ann_recall_audit_kmeans",
    "dsir_importance_weights",
    "zipf_slope_by_lang",
    "quality_logistic_score",
    "kmv_intersection_audit",
    "weighted_sample_docs",
    "bigram_logprob_score",
    "copurchase_pmi",
    "lang_confusion_audit",
    "streaming_schema_drift_live",
    "multimodal_byte_features",
    "multimodal_resize_meta",
    # round-9 additions
    "char_entropy_quality",
    "skew_key_audit",
    "incremental_agg_orders",
    "bm25_topk_docs",
    "minhash_containment_pairs",
    "kmeans_silhouette_audit",
    "hilbert_layout_codes",
    "streaming_heavy_hitters",
    "join_size_preflight",
    "wordpiece_tokenize",
    "temperature_mixture_weights",
    "gram_novelty_scores",
    "corpus_filter_funnel",
    "streaming_incremental_rollup",
    "bpe_train_merges",
    "bpe_apply_tokenize",
    "kcenter_coreset",
    "kmv_difference_audit",
    "corpus_version_diff",
    "label_propagation_communities",
    "adamic_adar_linkpred",
    # lsh_recall_audit is NOT benched: its exact all-pairs arm is the
    # audit harness (quadratic by definition, like dedup_ngram_jaccard —
    # run on a sample to certify band configs, never on the corpus).
    # round-10 additions
    "rrf_hybrid_retrieval",
    "matryoshka_recall_audit",
    "salted_topk_per_group",
    "compaction_bin_packing",
    "epoch_shuffle_assignment",
    "dedup_url_normalized",
    "l_diversity_audit",
    "corr_matrix_numeric",
    "dataset_card_stats",
    "binaryfile_ingest_meta",
    "kcore_order_part",
    "psi_price_drift",
    "streaming_stream_stream_outer_join",
    "doc_length_histogram",
    # round-12 REAL decodes (BMP pixels / WAV PCM samples)
    "multimodal_pixel_stats",
    # round-13: stdlib PNG decode (zlib inflate + unfilter)
    "multimodal_png_pixel_stats",
    "multimodal_pcm_stats",
    # round-12 bitext mining — the candidate-bounded scale shape only
    # (bitext_margin_mining is the exact all-pairs verify tier,
    # excluded like dedup_ngram_jaccard / cosine_neardup_pairs)
    "bitext_margin_mining_cells",
    "hard_negative_mining",
    # round-13: the cell-routed hard-negative scale shape (no probe
    # broadcast).  The recall audits (bitext_cells_recall_audit,
    # bitext_kmeans_recall_audit, hardneg_cells_recall_audit) are NOT
    # benched: their exact-tier arm is the quadratic audit harness,
    # excluded like lsh_recall_audit / dedup_ngram_jaccard.
    "hard_negative_mining_cells",
    # round-13: bitext cells over LEARNED k-means cells — same
    # candidate shape as bitext_margin_mining_cells plus the bounded
    # k-means assignment (k x dim centroid sync only)
    "bitext_margin_mining_cells_kmeans",
    # round-16: the sign-LSH Hamming-1 multiprobe mining shapes — the
    # recommended scale paths now that the r15 decomposition showed
    # the cells tier's recall collapse is structural (PERF.md r16 #1).
    # Their recall audits (bitext_lsh_recall_audit,
    # hardneg_lsh_recall_audit, lsh_topk_overlap_audit) carry the
    # quadratic exact arm and stay appendix-only, like the cells-tier
    # audits above.
    "bitext_margin_mining_lsh",
    "hard_negative_mining_lsh",
    # round-17: the forced Hamming-<=2 tier (symmetric radius-1
    # explode + per-bucket GEMM) — the past-the-clamp scale path
    # pinned to parity scale (VERDICT r16 #1).
    "embedding_neardup_lsh_probe2",
    # round-18: batch ANN k-NN graph — the GEMM strategy of
    # lsh_bucketed_topk (VERDICT r17 #1); the serving entry
    # (similarity_lsh_topk) stays on the broadcast strategy it
    # benches above.  The mutual-edge graph (semantic-dedup prep)
    # composes on top: one checkpointed graph + a pair-keyed
    # self-join.
    "similarity_lsh_knngraph",
    "similarity_lsh_knngraph_mutual",
    # SemDeDup composition: mutual edges at the near-dup threshold ->
    # min-label components (iterative driver loop, like
    # label_propagation_communities — benched for the wall, no static
    # plan budget)
    "embedding_semdedup_clusters",
    # round-19: the certified-recall semantic-dedup path (edges from
    # the adaptive near-dup tier, mutual-k-NN computed exactly on the
    # threshold pair set) and the SemDeDup keeper policy (one kept
    # representative per cluster)
    "embedding_semdedup_certified",
    "embedding_semdedup_keepers",
]


def _querybench():
    """``querybench/run.py``, imported on first use so that ``import
    bench`` stays light for the scripts and tests that only read
    ``HEADLINE``."""
    qb_dir = os.path.join(_REPO, "querybench")
    if qb_dir not in sys.path:
        sys.path.insert(0, qb_dir)  # run.py imports its sibling modules
    import run

    return run


def session(app_name: str):
    """A Spark session sized like querybench's: every host core, and a
    quarter of the host's memory for the driver heap."""
    from amazon_books_review_spark.session import get_session

    qb = _querybench()
    cores = qb.host_cores()
    spark = get_session(
        app_name=app_name,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": f"{qb.driver_memory_mb(qb.mem_total_mb())}m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def relayout(sf_dir: str, dst: str) -> None:
    """querybench's ingest re-layout of ``sf_dir`` into ``dst``, with
    ``max(4, cores // 2)`` files per table.  Half the cores was measured
    as the sweet spot: CPU-heavy document scans keep their full
    speed-up (gopher 1.87 s at 16 splits vs 1.86 s at 32), while the
    per-file cost every small query pays (listing, footer reads, task
    launch) halves (8-query probe: raw 11.9 s, 16 splits 6.0 s,
    32 splits 6.8 s)."""
    qb = _querybench()
    qb.relayout(Path(sf_dir), Path(dst), max(4, qb.host_cores() // 2))


def time_entries(spark, names, sf_dir: str) -> dict:
    """Time each catalog entry in ``names`` once at ``sf_dir``.

    Steps as in the module docstring: sf0.001 warm-up of every entry,
    re-layout, ``prestage_inputs``, one ``execute`` per entry.  Returns
    ``rows`` (name -> ``{"secs", "construct_s", "action_s"}``, or
    ``{"error", "phase"}`` for an entry that raised), the warm-up
    seconds, and the untimed ``layout_s`` and ``prestage_s``.
    """
    from amazon_books_review_spark.plans.catalog import all_queries
    from amazon_books_review_spark.streaming.queries import prestage_inputs

    qb = _querybench()
    queries = all_queries()
    rows: dict[str, dict] = {}
    warmup: dict[str, float] = {}
    for name in names:
        if name not in queries:
            rows[name] = {"error": "KeyError: not a catalog entry", "phase": "warm-up"}
            continue
        ex, _ = qb.execute(spark, name, queries[name], WARMUP_SF_DIR, 0)
        if ex.error is not None:
            rows[name] = {"error": ex.error, "phase": "warm-up"}
        else:
            warmup[name] = round(ex.latency_s, 3)

    laid = tempfile.mkdtemp(prefix="abr_bench_layout_")
    try:
        t = time.perf_counter()
        relayout(sf_dir, laid)
        layout_s = time.perf_counter() - t
        t = time.perf_counter()
        prestage_inputs(spark, laid, names)
        prestage_s = time.perf_counter() - t
        for name in names:
            if name in rows:
                continue
            ex, _ = qb.execute(spark, name, queries[name], laid, 1)
            if ex.error is not None:
                rows[name] = {"error": ex.error, "phase": "timed"}
            else:
                rows[name] = {
                    "secs": round(ex.latency_s, 3),
                    "construct_s": round(ex.construct_s, 3),
                    "action_s": round(ex.action_s, 3),
                }
    finally:
        shutil.rmtree(laid, ignore_errors=True)
    return {
        "rows": rows,
        "warmup_sf0001": warmup,
        "layout_s": round(layout_s, 3),
        "prestage_s": round(prestage_s, 3),
    }


def _next_round(repo: str = _REPO) -> int:
    """One past the highest round of any BENCH_r*, BENCH_LOCAL_r* or
    BENCH_APPENDIX_r* file in ``repo`` ($SPARK_GRAFT_ROUND overrides
    it), so a new detail file never overwrites a committed one."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    pattern = re.compile(r"BENCH_(?:LOCAL_|APPENDIX_)?r(\d+)\.json")
    rounds = [0]
    for p in Path(repo).iterdir():
        m = pattern.fullmatch(p.name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def _sf_value() -> float | str:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def _record(metric: str, run: dict) -> dict:
    """The detail-file record of one ``time_entries`` run."""
    rows = run["rows"]
    timings = {n: r["secs"] for n, r in rows.items() if "secs" in r}
    errors = {n: r["error"] for n, r in rows.items() if "error" in r}
    qb = _querybench()
    return {
        "metric": metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n_timed": len(timings),
        "n_errors": len(errors),
        "sf": _sf_value(),
        "errors": errors,
        "entries": rows,
        "warmup_sf0001": run["warmup_sf0001"],
        "layout_s": run["layout_s"],
        "prestage_s": run["prestage_s"],
        "cores": qb.host_cores(),
        "driver_memory_mb": qb.driver_memory_mb(qb.mem_total_mb()),
    }


def main() -> None:
    spark = session("abr-bench")
    try:
        detail = _record("headline_total", time_entries(spark, HEADLINE, SF_DIR))
    finally:
        spark.stop()
    timings = detail["queries"]
    r03_missing = [n for n in R03_SET if n not in timings]
    # None when any member errored: a shrunken sum would read as a
    # speed-up
    detail["r03_subset_total"] = (
        round(sum(timings[n] for n in R03_SET), 3) if not r03_missing else None
    )
    detail["r03_subset_missing"] = r03_missing
    path = Path(_REPO) / f"BENCH_LOCAL_r{_next_round():02d}.json"
    path.write_text(json.dumps(detail, indent=1) + "\n")
    summary = {
        k: detail[k]
        for k in ("metric", "value", "unit", "queries", "r03_subset_total",
                  "n_timed", "n_errors", "sf")
    }
    summary["queries_detail_file"] = path.name
    print(json.dumps(_fit_line(summary, timings)))


_LINE_BUDGET = 1900  # headroom under the driver's 2000-char tail window


def _fit_line(summary: dict, timings: dict[str, float]) -> dict:
    """Shrink ``summary['queries']`` until the JSON line fits the
    driver's tail window.  Keeps the r03-comparable series intact
    (cross-round per-query grading), then the slowest others, and
    folds whatever remains into ``queries_other_total`` with an
    explicit count — never a silent drop."""
    compact = dict(summary)
    keep = {n: t for n, t in timings.items() if n in R03_SET}
    rest = sorted(
        ((n, t) for n, t in timings.items() if n not in R03_SET),
        key=lambda kv: -kv[1],
    )
    for n, t in rest:
        trial = dict(compact)
        trial["queries"] = {**keep, n: t}
        omitted = [x for x in rest if x[0] not in trial["queries"]]
        trial["queries_omitted"] = len(omitted)
        trial["queries_other_total"] = round(sum(t2 for _, t2 in omitted), 3)
        if len(json.dumps(trial)) > _LINE_BUDGET:
            break
        keep[n] = t
    omitted = [x for x in rest if x[0] not in keep]
    compact["queries"] = keep
    compact["queries_omitted"] = len(omitted)
    compact["queries_other_total"] = round(sum(t for _, t in omitted), 3)
    # last-ditch: if even the r03 set overflows (it never should),
    # drop per-query detail entirely rather than emit an unparseable line
    if len(json.dumps(compact)) > _LINE_BUDGET:
        compact["queries"] = {}
        compact["queries_omitted"] = len(timings)
        compact["queries_other_total"] = round(sum(timings.values()), 3)
    return compact


def appendix_main() -> None:
    """Time every catalog entry NOT in HEADLINE, so that every entry
    has a recorded timing (tests/test_r16_artifacts.py).  This includes
    the entries kept out of the headline on purpose: the quadratic
    exact and audit arms are small at bench scale, and the point is
    that their movement stays visible, not that they scale."""
    from amazon_books_review_spark.plans.catalog import all_queries

    names = sorted(set(all_queries()) - set(HEADLINE))
    spark = session("abr-bench-appendix")
    try:
        detail = _record("appendix_total", time_entries(spark, names, SF_DIR))
    finally:
        spark.stop()
    detail["note"] = (
        "non-HEADLINE catalog entries; includes the deliberately "
        "headline-excluded quadratic exact/audit arms "
        "(dedup_ngram_jaccard, *_recall_audit exact tiers, "
        "bitext_margin_mining, embedding_neardup_pairs) and "
        "Python-boundary demos (doc_chunk_windows_udtf)"
    )
    path = Path(_REPO) / f"BENCH_APPENDIX_r{_next_round():02d}.json"
    path.write_text(json.dumps(detail, indent=1) + "\n")
    print(json.dumps({
        k: detail[k] for k in ("metric", "value", "unit", "n_timed", "n_errors", "sf")
    } | {"detail_file": path.name}))


def named_main(names: list[str]) -> None:
    """Time the named entries; one JSON line each, no file."""
    from amazon_books_review_spark.plans.catalog import all_queries

    unknown = sorted(set(names) - set(all_queries()))
    if unknown:
        sys.exit(f"unknown catalog entries: {unknown}")
    spark = session("abr-bench-named")
    try:
        run = time_entries(spark, names, SF_DIR)
    finally:
        spark.stop()
    for name in names:
        print(json.dumps({"query": name, **run["rows"][name]}))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--appendix", action="store_true",
                    help="time every catalog entry outside HEADLINE")
    ap.add_argument("names", nargs="*", metavar="NAME",
                    help="time only these catalog entries")
    args = ap.parse_args()
    if args.appendix and args.names:
        ap.error("--appendix takes no entry names")
    if args.appendix:
        appendix_main()
    elif args.names:
        named_main(args.names)
    else:
        main()
