"""The benchmark's workloads: fixed lists of catalog entries, each run
as one closed-loop client.  Why each list exists is the workload's
``why`` in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: The queries read process-cached input fixtures (streaming feeds),
    #: which set-up stages so that the timed loop measures the operators.
    prestage: bool = False


WORKLOADS: dict[str, Workload] = {
    "relational": Workload((
        "flagship_gold_rollup",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q9_product_profit",
        "tpch_q21_sole_late_supplier",
        "text_token_stats",
        "top_orders_per_customer",
        "funnel_conversion",
    )),
    "iterative": Workload((
        "pagerank_copurchase",
        "label_propagation_communities",
        "embedding_semdedup_clusters",
    )),
    "ingest_writes": Workload(
        (
            "clean_books_ratings_csv",
            "streaming_windowed_counts",
            "streaming_dedup_events",
            "streaming_incremental_rollup",
            "orc_lineitem_roundtrip",
        ),
        prestage=True,
    ),
}
