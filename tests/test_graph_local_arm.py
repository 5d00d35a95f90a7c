"""The graph loops' small-input local arm against their distributed arm.

PageRank, label propagation and both connected-components forms fetch
their edge list to the driver when it fits
``spark.sql.autoBroadcastJoinThreshold`` and replay the same
synchronous rounds in numpy (``session.materialize``).  Each case here
runs one loop twice, once per arm, and requires the same rows, the same
``dtypes`` and the same ``RuntimeWarning``s, converged or not.
"""

from __future__ import annotations

import random
import warnings
from collections import Counter

import pytest

from amazon_books_review_spark.functions import dedup
from amazon_books_review_spark.plans.graph_queries import propagate_labels
from amazon_books_review_spark.plans.scale_ops_queries import pagerank_rounds
from amazon_books_review_spark.session import fetch_if_small, local_frame

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _is_local(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def _run(build):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = build()
    rows = Counter(tuple(r) for r in df.collect())
    warned = [(w.category, str(w.message)) for w in caught
              if issubclass(w.category, RuntimeWarning)]
    return df, rows, df.dtypes, warned


def both_arms(spark, build):
    """Run ``build`` on the local arm, then with the arm off; assert the
    arms agree and return the local run's rows and warnings."""
    local_df, *local = _run(build)
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        dist_df, *dist = _run(build)
    finally:
        spark.conf.set(THRESHOLD, old)
    assert _is_local(local_df), "the small input did not take the local arm"
    assert not _is_local(dist_df), "threshold -1 did not turn the local arm off"
    assert local == dist
    return local[0], local[2]


def random_graph(seed: int):
    """Directed pairs with everything the loops must agree on:
    asymmetric edges, dst-only nodes, self-loops, duplicate edges and
    isolated pairs; 30, 115 and 200 nodes for seeds 0, 1 and 2."""
    rng = random.Random(seed)
    n_nodes = 30 + 85 * seed
    pairs = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(2 * n_nodes)
    ]
    pairs += [(n_nodes + 1, n_nodes + 1), (5, 5)]  # self-loops
    pairs += [(n_nodes + 10, n_nodes + 11)]  # isolated pair
    pairs += [(3, n_nodes + 20), (4, n_nodes + 20)]  # dst-only node
    pairs += pairs[:5]  # duplicates
    return pairs


IDS = ("int", "bigint")


def _frame(spark, pairs, a, b, id_type):
    return spark.createDataFrame(pairs, f"{a} {id_type}, {b} {id_type}")


@pytest.mark.parametrize("id_type", IDS)
@pytest.mark.parametrize("seed", range(3))
def test_pagerank_arms_agree(spark, seed, id_type):
    # PageRank takes a distinct edge list, as copurchase_edges emits it
    edges = _frame(spark, sorted(set(random_graph(seed))), "src", "dst", id_type)
    for iters in (0, 1, 5):
        rows, _ = both_arms(spark, lambda: pagerank_rounds(edges, iters))
        assert rows


@pytest.mark.parametrize("id_type", IDS)
@pytest.mark.parametrize("seed", range(3))
def test_propagate_labels_arms_agree(spark, seed, id_type):
    edges = _frame(spark, random_graph(seed), "src", "dst", id_type)
    for iters in range(4):
        rows, _ = both_arms(spark, lambda: propagate_labels(edges, iters))
        assert rows


@pytest.mark.parametrize("algorithm", ["label_prop", "star"])
@pytest.mark.parametrize("id_type", IDS)
@pytest.mark.parametrize("seed", range(3))
def test_connected_components_arms_agree(spark, seed, id_type, algorithm):
    pairs = _frame(spark, random_graph(seed), "id_a", "id_b", id_type)
    rows, warned = both_arms(
        spark, lambda: dedup.connected_components(pairs, algorithm=algorithm)
    )
    assert rows and not warned


@pytest.mark.parametrize(
    "algorithm,max_iter", [("label_prop", 0), ("label_prop", 3), ("star", 0), ("star", 1)]
)
def test_unconverged_chain_arms_agree(spark, algorithm, max_iter):
    """A chain longer than the round budget: both arms stop at
    ``max_iter`` with the same unconverged labels and warning."""
    chain = list(range(100, 112))
    pairs = _frame(spark, list(zip(chain, chain[1:])), "id_a", "id_b", "bigint")
    rows, warned = both_arms(
        spark,
        lambda: dedup.connected_components(
            pairs, max_iter=max_iter, algorithm=algorithm
        ),
    )
    assert len(warned) == 1
    assert len({c for _, c in rows}) > 1, "the chain should not have converged"


def test_empty_edge_list_arms_agree(spark):
    pairs = _frame(spark, [], "id_a", "id_b", "bigint")
    for algorithm in ("label_prop", "star"):
        rows, warned = both_arms(
            spark, lambda: dedup.connected_components(pairs, algorithm=algorithm)
        )
        assert not rows and not warned


def test_string_ids_fail_closed(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    for algorithm in ("label_prop", "star"):
        df = dedup.connected_components(pairs, algorithm=algorithm)
        assert not _is_local(df)
        assert sorted(map(tuple, df.collect())) == [
            ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
        ]


def test_null_ids_fail_closed(spark):
    pairs = spark.createDataFrame([(1, 2), (2, None)], "id_a bigint, id_b bigint")
    df = dedup.connected_components(pairs)
    assert not _is_local(df)
    edges = spark.createDataFrame([(1, 2), (2, None), (2, 1)], "src bigint, dst bigint")
    assert not _is_local(propagate_labels(edges, 2))


def test_distributed_arm_fixture_turns_the_arm_off(spark, distributed_arm):
    """The fixture the distributed-loop pins run under really takes them
    off the local arm, while the session's broadcast threshold stays."""
    edges = _frame(spark, sorted(set(random_graph(0))), "src", "dst", "bigint")
    assert not _is_local(pagerank_rounds(edges, 1))
    assert not _is_local(propagate_labels(edges, 1))
    assert spark.conf.get(THRESHOLD) != "-1"


def test_fetch_if_small_gate(spark):
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert fetch_if_small(df, 1).num_rows == 1
    assert fetch_if_small(df, 1, nulls=1) is None
    # 2 columns x 8 bytes: 655,360 rows fill the 10 MB default exactly
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "10485760")
        assert fetch_if_small(df, 655_360) is not None
        assert fetch_if_small(df, 655_361) is None
        spark.conf.set(THRESHOLD, "-1")
        assert fetch_if_small(df, 1) is None
    finally:
        spark.conf.set(THRESHOLD, old)
    strings = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert fetch_if_small(strings, 1) is None


def test_graph_final_plans_are_local(spark, sf_dir):
    """At the test scale PageRank's and label propagation's results are
    ``LocalRelation``s: the final plan scans a local table and runs no
    exchange."""
    import contextlib
    import io

    from amazon_books_review_spark.plans.catalog import all_queries

    queries = all_queries()
    for name in ("pagerank_copurchase", "label_propagation_communities"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        assert "LocalTableScan" in plan, name
        assert plan.count("Exchange") == 0, name


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, [(1, "a", [1, 2])], "i int, s string, v array<bigint>")
    assert _is_local(df)
    assert df.dtypes == [("i", "int"), ("s", "string"), ("v", "array<bigint>")]
    assert [tuple(r) for r in df.collect()] == [(1, "a", [1, 2])]
    empty = local_frame(spark, [], "i int")
    assert _is_local(empty) and empty.count() == 0


#: catalog entries that build a small driver-side frame, with their
#: output dtypes as they were when those frames came from Python lists
DRIVER_FRAME_SITES = {
    "kcenter_coreset": [
        ("pick_order", "bigint"), ("vec_id", "bigint"), ("dist_sq", "bigint"),
    ],
    "embedding_random_projection": [
        ("vec_id", "bigint"), ("j", "int"), ("p", "bigint"), ("orig_nsq", "bigint"),
    ],
    "mixture_rebalance_corpus": [
        ("doc_id", "bigint"), ("lang", "string"), ("mix_rank", "int"),
    ],
    "bpe_train_merges": [
        ("merge_round", "bigint"), ("l", "string"), ("r", "string"),
        ("merged", "string"), ("cnt", "bigint"),
    ],
}


@pytest.mark.parametrize("name", sorted(DRIVER_FRAME_SITES))
def test_driver_frames_are_local_relations(spark, sf_dir, name):
    """A driver-built frame plans as a ``LocalRelation``: no
    ``LogicalRDD`` over a Python RDD, so no Python-worker job per
    action.  Oracle parity of these entries is test_oracle_parity's."""
    from amazon_books_review_spark.plans.catalog import all_queries
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KC_ARROW_MAX_ROWS_CONF,
    )

    query = all_queries()[name]
    confs = [None]
    if name == "kcenter_coreset":  # both returns: Arrow arm, then the loop
        confs.append("0")
    for cap in confs:
        if cap is not None:
            spark.conf.set(KC_ARROW_MAX_ROWS_CONF, cap)
        try:
            df = query(spark, sf_dir)
        finally:
            spark.conf.unset(KC_ARROW_MAX_ROWS_CONF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert df.dtypes == DRIVER_FRAME_SITES[name]
