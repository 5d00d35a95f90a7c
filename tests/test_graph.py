"""Hand-built-graph unit tests for the round-9 graph completions.

The oracle parity suite pins exact values on the co-purchase graph;
these pin the SEMANTICS on graphs small enough to reason about —
known community structure for label propagation, closed-form
Adamic-Adar scores, the adjacency exclusion, and the hub cap.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from amazon_books_review_spark.plans.graph_queries import (
    AA_DEG_CAP,
    AA_WEIGHTS,
    adamic_adar_scores,
    propagate_labels,
)


def _edges(spark, undirected_pairs):
    """Directed edge frame (both directions) from undirected pairs."""
    rows = []
    for u, v in undirected_pairs:
        rows.append((u, v))
        rows.append((v, u))
    return spark.createDataFrame(rows, "src long, dst long")


def _clique(nodes):
    return [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]


def test_lp_two_cliques_converge_to_min_member(spark):
    """Two 4-cliques bridged by one edge: every member adopts its
    clique's minimum id; the bridge does not merge them (each bridge
    endpoint sees 3 intra-clique votes vs 1 cross votes)."""
    a, b = [1, 2, 3, 4], [10, 11, 12, 13]
    edges = _edges(spark, _clique(a) + _clique(b) + [(4, 10)])
    got = {
        r.node: r.lbl for r in propagate_labels(edges, iters=3).collect()
    }
    assert {got[n] for n in a} == {1}
    assert {got[n] for n in b} == {10}


def test_lp_single_round_adopts_min_neighbor_on_tie(spark):
    """Round 1 from identity labels: every neighbor label occurs
    exactly once, so the min-label tie-break decides.  On a path
    1-2-3, node 2 sees {1, 3} and must adopt 1."""
    edges = _edges(spark, [(1, 2), (2, 3)])
    got = {r.node: r.lbl for r in propagate_labels(edges, iters=1).collect()}
    assert got == {1: 2, 2: 1, 3: 2}


def test_lp_covers_every_node_exactly_once(spark):
    edges = _edges(spark, _clique([1, 2, 3]) + [(3, 4), (7, 8)])
    out = propagate_labels(edges, iters=3).collect()
    assert sorted(r.node for r in out) == [1, 2, 3, 4, 7, 8]


def test_aa_path_scores_closed_form(spark):
    """Path u-v-w: the only candidate pair is (u, w) through v,
    deg(v) = 2, so score = AA_WEIGHTS[2] exactly and n_common = 1."""
    edges = _edges(spark, [(1, 5), (5, 9)])
    out = adamic_adar_scores(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.n_common, r.score_units) == (1, 9, 1, AA_WEIGHTS[2])


def test_aa_excludes_adjacent_pairs(spark):
    """A triangle's every 2-path closes into an existing edge — the
    anti-join must leave nothing."""
    edges = _edges(spark, _clique([1, 2, 3]))
    assert adamic_adar_scores(edges).count() == 0


def test_aa_two_common_neighbors_sum(spark):
    """4-cycle 1-2-3-4: (1, 3) share {2, 4} (both degree 2) and
    (2, 4) share {1, 3} — two pairs, each scoring 2 * w(2)."""
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    got = {
        (r.u, r.v): (r.n_common, r.score_units)
        for r in adamic_adar_scores(edges).collect()
    }
    assert got == {
        (1, 3): (2, 2 * AA_WEIGHTS[2]),
        (2, 4): (2, 2 * AA_WEIGHTS[2]),
    }


def test_aa_hub_cap_drops_high_degree_common_neighbors(spark):
    """A star whose center exceeds AA_DEG_CAP contributes nothing:
    all leaf pairs' only common neighbor is the capped hub."""
    leaves = list(range(1, AA_DEG_CAP + 3))  # center degree = cap + 2
    edges = _edges(spark, [(0, leaf + 100) for leaf in leaves])
    assert adamic_adar_scores(edges).count() == 0


def test_aa_weight_table_is_monotone_and_bounded():
    """The precomputed integer weight table: strictly decreasing in
    degree (higher-degree neighbors are less informative) and spans
    exactly degrees 2..AA_DEG_CAP."""
    assert sorted(AA_WEIGHTS) == list(range(2, AA_DEG_CAP + 1))
    ws = [AA_WEIGHTS[d] for d in sorted(AA_WEIGHTS)]
    assert all(a > b for a, b in zip(ws, ws[1:]))
    assert ws[0] == int(1_000_000_000 / __import__("math").log(2))


def test_broadcast_guard_hints_below_cap_and_drops_above(spark):
    """broadcast_if_small must hint under the configured node budget
    and return the UN-hinted frame above it (VERDICT r9 #3: the
    web-scale degrade path must exist in code, not just docstrings)."""
    from amazon_books_review_spark.operators.joins import (
        BROADCAST_MAX_ROWS_CONF,
        broadcast_if_small,
    )

    df = spark.createDataFrame([(i, i) for i in range(10)], "node long, lbl long")
    prev = spark.conf.get(BROADCAST_MAX_ROWS_CONF, None)
    try:
        spark.conf.set(BROADCAST_MAX_ROWS_CONF, "5")
        hinted = broadcast_if_small(df, 5)
        plain = broadcast_if_small(df, 6)
        assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()
        assert "Hint" not in plain._jdf.queryExecution().logical().toString()
    finally:
        if prev is None:
            spark.conf.unset(BROADCAST_MAX_ROWS_CONF)
        else:
            spark.conf.set(BROADCAST_MAX_ROWS_CONF, prev)


def test_lp_correct_past_the_broadcast_cap(spark, distributed_arm):
    """Label propagation must produce identical labels when the node
    budget forces the shuffle-join path (on the distributed loop: the
    local arm would take this graph)."""
    from amazon_books_review_spark.operators.joins import BROADCAST_MAX_ROWS_CONF

    a, b = [1, 2, 3, 4], [10, 11, 12, 13]
    edges = _edges(spark, _clique(a) + _clique(b) + [(4, 10)])
    want = {r.node: r.lbl for r in propagate_labels(edges, iters=3).collect()}
    prev = spark.conf.get(BROADCAST_MAX_ROWS_CONF, None)
    try:
        spark.conf.set(BROADCAST_MAX_ROWS_CONF, "0")  # never broadcast
        got = {r.node: r.lbl for r in propagate_labels(edges, iters=3).collect()}
    finally:
        if prev is None:
            spark.conf.unset(BROADCAST_MAX_ROWS_CONF)
        else:
            spark.conf.set(BROADCAST_MAX_ROWS_CONF, prev)
    assert got == want


def test_kcore_cascade_on_hand_bipartite_graph(spark):
    """k=2 bipartite cascade: dropping a degree-1 part must knock out
    the order that depended on it in the NEXT round (two peel rounds
    needed), leaving the clean 2x2 core."""
    from amazon_books_review_spark.plans.graph_queries import kcore_peel

    edges = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 20), (3, 30)],
        "o long, p long",
    )
    core = kcore_peel(edges, k=2, iters=3)
    got = sorted((r.o, r.p) for r in core.collect())
    assert got == [(1, 10), (1, 20), (2, 10), (2, 20)]
    # one round is NOT enough — the cascade is real
    partial = kcore_peel(edges, k=2, iters=1)
    assert sorted((r.o, r.p) for r in partial.collect()) != got


def test_kcore_iters_converged_on_testdata(spark):
    """KCORE_ITERS rounds must reach the fixed point on the order-part
    graph (an extra round is a no-op) — the constant's contract."""
    from amazon_books_review_spark.plans.graph_queries import (
        KCORE_ITERS,
        KCORE_K,
        kcore_peel,
    )
    from amazon_books_review_spark.sources.io import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    at = kcore_peel(edges, k=KCORE_K, iters=KCORE_ITERS)
    beyond = kcore_peel(edges, k=KCORE_K, iters=KCORE_ITERS + 1)
    assert sorted(map(tuple, at.collect())) == sorted(map(tuple, beyond.collect()))
