"""Round-19 OPTIMIZATION invariants: every rewrite in this round must
be output-identical to the shape it replaced (the driver re-hashes all
declared queries, so these are the fast local pins of the same
contract)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from amazon_books_review_spark.functions import dedup, similarity


def _toy_vectors(spark, n=60, dim=8, n_cells=4):
    rows = [
        (
            i,
            [float(((i * 7 + j * 3) % 9) - 4) + 0.25 * j for j in range(dim)],
            f"c{i % n_cells}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )


@pytest.mark.parametrize("nprobes", [(1,), (2, 4), (1, 2, 3)])
def test_ivf_topk_multi_matches_per_nprobe_calls(spark, nprobes):
    """ivf_topk_multi's shared scoring pass must be row-identical to an
    independent ivf_topk call at every requested nprobe."""
    df = _toy_vectors(spark)
    probes = df.filter(F.col("vec_id") < 5)
    multi = similarity.ivf_topk_multi(
        df, probes, "vec_id", "embedding", "label", dim=8, k=3,
        nprobes=nprobes,
    )
    assert set(multi) == set(nprobes)
    for np_ in nprobes:
        single = similarity.ivf_topk(
            df, probes, "vec_id", "embedding", "label", dim=8, k=3, nprobe=np_
        )
        got = sorted(map(tuple, multi[np_].collect()))
        want = sorted(map(tuple, single.collect()))
        assert got == want, f"nprobe={np_} diverged"


def test_ivf_topk_multi_rejects_empty():
    with pytest.raises(ValueError):
        similarity.ivf_topk_multi(
            None, None, "vec_id", "embedding", "label", dim=8, nprobes=()
        )


def test_connected_components_explode_symmetrize_identical(spark):
    """The r19 explode-based symmetrize + checkpoint-first label_prop
    must produce the same (node, cluster_id) set as first principles:
    min reachable id per component (chain + triangle + singleton
    pair)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = sorted(
        (r.node, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    )
    want = sorted(
        [(1, 1), (2, 1), (3, 1), (4, 1),
         (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)]
    )
    assert got == want


def test_propagate_labels_round1_elision_identical(spark, distributed_arm):
    """Round-1 of label propagation with identity labels is a rename of
    dst -> lbl; the elided form must equal the explicit-join form
    (reference implementation inline here).  Run on the distributed
    loop, where the elision lives."""
    from amazon_books_review_spark.plans.graph_queries import propagate_labels

    edges = spark.createDataFrame(
        [(a, b) for a, b in
         [(1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4), (5, 6), (6, 5),
          (1, 3), (3, 1)]],
        "src bigint, dst bigint",
    )

    def reference(edges, iters):
        labels = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
        for _ in range(iters):
            labels = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("src")
                .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg")))
                     .alias("best"))
                .select(F.col("src").alias("node"),
                        (-F.col("best.neg")).alias("lbl"))
            )
        return labels

    for iters in (1, 2, 3):
        got = sorted(map(tuple, propagate_labels(edges, iters).collect()))
        want = sorted(map(tuple, reference(edges, iters).collect()))
        assert got == want, f"iters={iters} diverged"


def test_kcenter_coreset_matches_numpy_greedy(spark):
    """The r19 growing-least fold in kcenter_coreset (one checkpointed
    point set, no per-round re-materialization) must replay the exact
    Gonzalez traversal: same picks, same distances, ties to the lowest
    vec_id — pinned against an independent numpy reference over the
    same parquet fixture."""
    import numpy as np
    import pandas as pd  # noqa: F401  (pyarrow->pandas path)

    from amazon_books_review_spark.plans.scale_ops_queries import (
        KC_K,
        KM_Q,
        kcenter_coreset,
    )
    from tests.conftest import SF_SMOKE

    got = sorted(map(tuple, kcenter_coreset(spark, SF_SMOKE).collect()))

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = emb["vec_id"].to_numpy()
    # HALF_UP like Spark's F.round (ADVICE r19: np.rint is
    # half-to-even, which would diverge on an exact half-milli)
    v = np.stack(emb["embedding"].to_numpy()).astype("float64") * KM_Q
    qv = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")
    dmin = ((qv - qv[0]) ** 2).sum(axis=1)  # seed = lowest vec_id
    want = [(0, int(ids[0]), None)]
    for i in range(1, KC_K):
        # argmax by dmin desc, vec_id asc (ids sorted -> first argmax)
        j = int(np.argmax(dmin))
        want.append((i, int(ids[j]), int(dmin[j])))
        dmin = np.minimum(dmin, ((qv - qv[j]) ** 2).sum(axis=1))
    assert got == sorted(want)
