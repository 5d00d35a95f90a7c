#!/usr/bin/env python3
"""True-sf1 benchmark with generator-fidelity validation (VERDICT r12
#6).

Three timed points per query, each one ``bench.time_entries`` run in
one host-sized session (sf0.001 warm-up, re-layout, prestaged
fixtures, one noop-sink execution per entry):

- real sf0.1 (/root/testdata/sf0.1) — the trusted reference;
- gen sf0.1 (scripts/gen_sf.py at sf=0.1) — generator fidelity:
  `gen01_over_real` near 1.0 means the reconstruction benches like
  the real data and its sf1 output can be trusted;
- gen sf1 — the true 10x point; `sf1_over_gen01` is the measured
  scale ratio, comparable against the synthesis-based 10x curves in
  PERF.md.

Queries: the 15 slowest batch entries of BENCH_LOCAL_r12 plus the
entries later rounds added (streaming entries excluded — their cost is
machinery and fixture staging, not data volume).

Usage:
    python scripts/gen_sf.py 0.1 /tmp/abr_gen_sf0.1
    python scripts/gen_sf.py 1 /tmp/abr_gen_sf1
    python scripts/sf1_bench.py [out.json] [query ...]

Extra argv entries restrict the run to those queries (for re-measuring
a config change without repaying the full battery); point out.json
somewhere else than BENCH_SF1.json then, so the full-battery artifact
survives.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

REAL_01 = "/root/testdata/sf0.1"
GEN_01 = os.environ.get("SPARK_GRAFT_GEN01", "/tmp/abr_gen_sf0.1")
GEN_1 = os.environ.get("SPARK_GRAFT_GEN1", "/tmp/abr_gen_sf1")

QUERIES = [
    "label_propagation_communities",
    "embedding_neardup_lsh_verified",
    "pagerank_copurchase",
    "triangle_count_copurchase",
    "adamic_adar_linkpred",
    "ann_recall_audit_kmeans",
    "copurchase_reach",
    "cogroup_user_purchase_gap",
    "dedup_cluster_canonical",
    "ann_recall_audit",
    "kcore_order_part",
    "copurchase_pmi",
    "gopher_repetition_rules",
    "bigram_logprob_score",
    "incremental_agg_orders",
    # r14: the self-sized bitext kmeans tier joins the battery — its
    # fixed-k predecessor was the 36.6x-at-10x outlier this round fixed
    "bitext_margin_mining_cells_kmeans",
    # r16: the sign-LSH multiprobe miners + the entries the shared
    # one-matmul signature kernel re-touched (PERF.md r16 #1-#3)
    "bitext_margin_mining_lsh",
    "hard_negative_mining_lsh",
    "hard_negative_mining_cells",
    "similarity_lsh_topk",
    # r18: the forced Hamming-<=2 near-dup tier (partition-local
    # transport) and the batch ANN k-NN graph (gemm strategy)
    "embedding_neardup_lsh_probe2",
    "similarity_lsh_knngraph",
    # r19: the mutual-edge graph + both semantic-dedup compositions
    # and the keeper policy
    "similarity_lsh_knngraph_mutual",
    "embedding_semdedup_clusters",
    "embedding_semdedup_certified",
    "embedding_semdedup_keepers",
    # r20: the entries this optimization round touched ...
    "corpus_filter_funnel",
    "kcenter_coreset",
    # ... and a 1-2s-band sample (VERDICT r19 #8: the sf0.1 headline is
    # overhead-dominated for these; sf1 is where data movement shows)
    "wordpiece_tokenize",
    "bpe_train_merges",
    "bpe_apply_tokenize",
    "kmv_difference_audit",
    "dpp_partitioned_scan",
    "join_size_preflight",
    "kmeans_silhouette_audit",
    "rrf_hybrid_retrieval",
    "similarity_ivf_topk",
]

ONLY = set(sys.argv[2:])
if ONLY:
    # A typo'd name (or queries passed without the out.json first
    # argument) must not silently shrink the run to a wrong subset
    # with exit 0 (ADVICE r14).
    unknown = sorted(ONLY - set(QUERIES))
    if unknown:
        sys.exit(
            f"unknown queries: {unknown}; known: {sorted(QUERIES)}"
        )
    QUERIES = [q for q in QUERIES if q in ONLY]


def main() -> None:
    import bench

    spark = bench.session("abr-sf1-bench")
    try:
        points = {
            key: bench.time_entries(spark, QUERIES, sf_dir)["rows"]
            for key, sf_dir in (("real_sf0.1_sec", REAL_01),
                                ("gen_sf0.1_sec", GEN_01),
                                ("gen_sf1_sec", GEN_1))
        }
    finally:
        spark.stop()

    out: dict[str, dict] = {}
    for name in QUERIES:
        row = {key: rows[name].get("secs") for key, rows in points.items()}
        real01, gen01, sf1 = row.values()
        errors = {k: rows[name]["error"] for k, rows in points.items() if "error" in rows[name]}
        out[name] = {
            **row,
            "gen01_over_real": round(gen01 / real01, 3) if real01 and gen01 else None,
            "sf1_over_gen01": round(sf1 / gen01, 3) if gen01 and sf1 else None,
            **({"errors": errors} if errors else {}),
        }
        print(json.dumps({"query": name, **out[name]}), flush=True)

    payload = {
        "queries": out,
        "cpus": bench._querybench().host_cores(),
        "generator": "scripts/gen_sf.py seed=42 (distribution-matched)",
    }
    dest = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(_REPO) / "BENCH_SF1.json"
    dest.write_text(json.dumps(payload, indent=1) + "\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
