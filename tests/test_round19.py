"""Round-19 pins: bounded GEMM tiles for degenerate buckets (VERDICT
r18 #3 — chunking invariance across every kernel mode, the running
row-wise top-k merge's tie rule, the mega-bucket path), plus the
ADVICE-r18 hardening (reserved-column validation, the partition-level
materialization warn, the exchange-width parallelism source, and the
enforced prefix-probes precondition).  Identity is always vs the same
kernel at a different chunk size — chunk size is a pure memory knob,
so outputs must match exactly."""

from __future__ import annotations

import os
import warnings

import numpy as np
import pytest

from amazon_books_review_spark.functions import similarity


def _fixture(n=160, dim=16, seed=191):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    # plant near-duplicate clusters so top-k has real structure, and
    # EXACT duplicates so a degenerate (same-signature) bucket exists
    for base in range(0, n, 20):
        for j in range(1, 4):
            if base + j < n:
                v[base + j] = v[base] + rng.normal(scale=0.05, size=dim)
    for j in range(1, 8):
        v[n - j] = v[n - 8]
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.fixture(scope="module")
def emb_df(spark):
    v = _fixture()
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(len(v))]
    return v, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _sig_arm(df, b, t, dim, out):
    from pyspark.sql import functions as F

    sigs = similarity.lsh_signatures(df, "vec_id", out, "embedding", b, t, dim)
    v = df.select(F.col("vec_id").alias(out), F.col("embedding").alias("_v"))
    return sigs.join(v, out).withColumnRenamed(out, "_id")


def _multiset(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Chunking invariance: stack_chunk_rows is a pure memory knob — the
# emitted MULTISET must be identical at every chunk size (order
# within a group is the only thing allowed to move).  chunk=7 forces
# many chunks per bucket (mega-bucket shape relative to the knob,
# exercising _chunk_rows_f64 spans and the running top-k merge);
# chunk=1 is the degenerate floor.


@pytest.mark.parametrize("ch", [1, 7])
def test_chunking_invariant_self_round6(spark, emb_df, ch):
    v, df = emb_df
    b, t = 3, 2
    arm = _sig_arm(df, b, t, v.shape[1], "id")

    def run(chunk):
        return _multiset(
            similarity.lsh_bucket_gemm_scored(
                arm, None, "id_a", "id_b",
                quantize="round6", threshold=0.4, require_lt=True,
                stack_chunk_rows=chunk,
            )
        )

    assert run(ch) == run(None)


@pytest.mark.parametrize("ch", [1, 7])
def test_chunking_invariant_twosided_round6_topk(spark, emb_df, ch):
    v, df = emb_df
    b, t, k = 3, 2, 4
    qa = _sig_arm(df.filter("vec_id < 40"), b, t, v.shape[1], "q")
    ca = _sig_arm(df, b, t, v.shape[1], "c")

    def run(chunk):
        return _multiset(
            similarity.lsh_bucket_gemm_scored(
                qa, ca, "query_id", "neighbor_id",
                quantize="round6", topk=k, exclude_eq=True,
                stack_chunk_rows=chunk,
            )
        )

    assert run(ch) == run(None)


@pytest.mark.parametrize("ch", [1, 7])
def test_chunking_invariant_twosided_floorq_topk(spark, emb_df, ch):
    v, df = emb_df
    b, t, k = 3, 2, 3
    sa = _sig_arm(df.filter("vec_id % 2 = 0"), b, t, v.shape[1], "s")
    ta = _sig_arm(df.filter("vec_id % 2 = 1"), b, t, v.shape[1], "t")

    def run(chunk):
        return _multiset(
            similarity.lsh_bucket_gemm_scored(
                sa, ta, "src_id", "tgt_id",
                quantize="floorq", topk=k,
                stack_chunk_rows=chunk,
            )
        )

    assert run(ch) == run(None)


@pytest.mark.parametrize("ch", [1, 7])
def test_chunking_invariant_transport_self(spark, emb_df, ch):
    # partition-local multiprobe transport composed with chunking:
    # both knobs are pure transport/memory levers
    v, df = emb_df
    b, t = 4, 2
    arm = _sig_arm(df, b, t, v.shape[1], "id")

    def run(chunk):
        return _multiset(
            similarity.lsh_bucket_gemm_scored(
                arm, None, "id_a", "id_b",
                quantize="round6", threshold=0.4, require_lt=True,
                symmetric_probe_planes=b, local_probe_bits=2,
                stack_chunk_rows=chunk,
            )
        )

    assert run(ch) == run(None)


def test_chunking_invariant_emitall_threshold(spark, emb_df):
    # two-sided round6 WITHOUT topk (threshold emit-all): cells must
    # partition exactly across chunks
    v, df = emb_df
    b, t = 3, 2
    sa = _sig_arm(df.filter("vec_id % 2 = 0"), b, t, v.shape[1], "s")
    ta = _sig_arm(df.filter("vec_id % 2 = 1"), b, t, v.shape[1], "t")

    def run(chunk):
        return _multiset(
            similarity.lsh_bucket_gemm_scored(
                sa, ta, "src_id", "tgt_id",
                quantize="round6", threshold=0.3,
                stack_chunk_rows=chunk,
            )
        )

    assert run(5) == run(None)


# ---------------------------------------------------------------------------
# The running row-wise top-k merge: selection must equal one stable
# argsort over the full id-sorted column set, including score-AND-id
# ties (repeated ids happen — the transport expands the same _id into
# several probe rows of one bucket).


def _reference_row_topk(vals, ids, k):
    out_v, out_i = [], []
    for row in vals:
        order = np.argsort(-row, kind="stable")[:k]
        out_v.append(row[order])
        out_i.append(ids[order])
    return np.stack(out_v), np.stack(out_i)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_merge_row_topk_matches_whole_argsort(seed):
    rng = np.random.default_rng(seed)
    n_rows, n_cols, k = 6, 40, 5
    # quantized scores with heavy ties, id-sorted columns WITH
    # duplicate ids (two probe rows of one id in the same bucket)
    ids = np.sort(rng.integers(0, 12, size=n_cols).astype(np.int64))
    vals = rng.integers(-3, 4, size=(n_rows, n_cols)).astype(np.int64)
    want_v, want_i = _reference_row_topk(vals, ids, k)
    for chunk in (1, 3, 7, n_cols):
        run_v = np.empty((n_rows, 0), np.int64)
        run_i = np.empty((n_rows, 0), np.int64)
        for c0 in range(0, n_cols, chunk):
            c1 = min(c0 + chunk, n_cols)
            tile = vals[:, c0:c1]
            kk = min(k, tile.shape[1])
            ridx = np.argsort(-tile, axis=1, kind="stable")[:, :kk]
            run_v, run_i = similarity._merge_row_topk(
                run_v, run_i,
                np.take_along_axis(tile, ridx, axis=1),
                ids[c0:c1][ridx],
                k,
            )
        assert np.array_equal(run_v, want_v), f"chunk={chunk}"
        assert np.array_equal(run_i, want_i), f"chunk={chunk}"


def test_chunk_rows_f64_spans_chunks():
    vs = np.empty(10, dtype=object)
    for i in range(10):
        vs[i] = np.full(3, float(i), dtype=np.float32)
    chunks, norms = similarity._stack_chunks(vs, ch=4)
    assert [len(c) for c in chunks] == [4, 4, 2]
    tile = similarity._chunk_rows_f64(chunks, 2, 9, ch=4)
    assert tile.dtype == np.float64
    assert np.array_equal(tile[:, 0], np.arange(2, 9, dtype=np.float64))
    # norms are float64 and match a whole-stack computation
    whole = np.sqrt((np.stack(tuple(vs)).astype(np.float64) ** 2).sum(1))
    assert np.allclose(norms, whole, rtol=0, atol=0)


# ---------------------------------------------------------------------------
# ADVICE r18 hardening.


def test_reserved_transport_columns_rejected(spark, emb_df):
    from pyspark.sql import functions as F

    v, df = emb_df
    arm = _sig_arm(df, 4, 2, v.shape[1], "id")
    with pytest.raises(ValueError, match="_hf"):
        similarity.lsh_bucket_gemm_scored(
            arm.withColumn("_hf", F.lit(0)), None, "a", "b",
            quantize="round6", threshold=0.4,
            symmetric_probe_planes=4,
        )
    with pytest.raises(ValueError, match="_m"):
        similarity.lsh_bucket_gemm_scored(
            arm.withColumn("_m", F.lit(0)), None, "a", "b",
            quantize="round6", threshold=0.4,
            symmetric_probe_planes=4,
        )
    with pytest.raises(ValueError, match="_side"):
        similarity.lsh_bucket_gemm_scored(
            arm.withColumn("_side", F.lit(0)), arm, "a", "b",
            quantize="round6", topk=2,
        )


def test_stack_chunk_rows_validated(spark, emb_df):
    v, df = emb_df
    arm = _sig_arm(df, 3, 2, v.shape[1], "id")
    with pytest.raises(ValueError, match="stack_chunk_rows"):
        similarity.lsh_bucket_gemm_scored(
            arm, None, "a", "b", quantize="round6", threshold=0.4,
            stack_chunk_rows=-1,
        )


def test_partition_warn_threshold():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        similarity._warn_oversized_local_partition(
            similarity._LOCAL_PARTITION_WARN_ROWS
        )
    with pytest.warns(RuntimeWarning, match="shuffle partition"):
        similarity._warn_oversized_local_partition(
            similarity._LOCAL_PARTITION_WARN_ROWS + 1
        )


def test_exchange_parallelism_takes_max(spark):
    # the tests session runs shuffle_partitions=4; the scheduler's
    # defaultParallelism is the local core count — the knob must be
    # the max of the two, never silently the smaller
    got = similarity.lsh_exchange_parallelism(spark)
    dp = spark.sparkContext.defaultParallelism
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert got == max(dp, sp)


def test_prefix_probes_guard(spark, emb_df):
    v, df = emb_df
    # prefix subset: passes the guard and runs
    prefix = df.filter("vec_id < 12")
    out = similarity.cosine_neardup_lsh_verified(
        df, "vec_id", "embedding", threshold=0.4,
        n_planes=3, n_tables=2, dim=v.shape[1],
        probe_bits=2, probes=prefix,
    )
    assert out.count() >= 0
    # non-prefix subset: rejected with the precondition message
    holey = df.filter("vec_id % 2 = 0 AND vec_id < 24")
    with pytest.raises(ValueError, match="prefix"):
        similarity.cosine_neardup_lsh_verified(
            df, "vec_id", "embedding", threshold=0.4,
            n_planes=3, n_tables=2, dim=v.shape[1],
            probe_bits=2, probes=holey,
        )
    # the documented opt-out skips the check (caller takes the
    # precondition on themselves)
    out = similarity.cosine_neardup_lsh_verified(
        df, "vec_id", "embedding", threshold=0.4,
        n_planes=3, n_tables=2, dim=v.shape[1],
        probe_bits=2, probes=holey, assume_prefix_probes=True,
    )
    assert out.count() >= 0


# ---------------------------------------------------------------------------
# VERDICT r18 #5/#7/#8: materialization arms, keeper policy, footer count.

SF = "/root/testdata/sf0.001"


def test_materialize_modes_row_identical(spark, tmp_path, monkeypatch):
    """``session.materialize`` writes a reliable checkpoint while the
    session has a checkpoint dir and a local one otherwise; the rows
    must not depend on which arm ran.  The graph loops' observed counts
    must come back under the reliable arm too: the small-graph local
    arm still engages, and with it turned off the distributed loops
    (whose node counts and convergence checks are observations) give
    the same rows."""
    from collections import Counter

    from amazon_books_review_spark import session
    from amazon_books_review_spark.plans.graph_queries import (
        label_propagation_communities,
    )
    from amazon_books_review_spark.plans.northstar_queries import (
        similarity_lsh_knngraph_mutual,
    )
    from amazon_books_review_spark.plans.scale_ops_queries import (
        pagerank_copurchase,
    )

    queries = (
        similarity_lsh_knngraph_mutual,
        label_propagation_communities,
        pagerank_copurchase,
    )
    graph_loops = queries[1:]

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    def is_local(df):
        return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = [rows(q(spark, SF)) for q in queries]

    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    reliable, written, took_local = [], [], []
    try:
        for q in queries:
            before = {f for f in ckpt.rglob("*") if f.is_file()}
            df = q(spark, SF)
            reliable.append(rows(df))
            took_local.append(is_local(df))
            written.append({f for f in ckpt.rglob("*") if f.is_file()} - before)
        monkeypatch.setattr(session, "broadcast_threshold", lambda spark: -1)
        distributed = [rows(q(spark, SF)) for q in graph_loops]
    finally:
        # unset the session checkpoint dir (Option.apply(null) ->
        # scala None via the var setter) so the session fixture's
        # later tests keep taking the local arm
        none = sc._jvm.scala.Option.apply(None)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
    assert local == reliable
    assert distributed == local[1:]
    assert took_local == [False, True, True]
    for q, files in zip(queries, written):
        assert files, f"{q.__name__} wrote nothing under the checkpoint dir"
    assert sc.getCheckpointDir() is None


def test_semdedup_keepers_policy(spark):
    from amazon_books_review_spark.plans import northstar_queries as nq

    rows = nq.embedding_semdedup_keepers(spark, SF).collect()
    assert rows, "parity fixtures plant semantic dup clusters"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        # exactly one kept representative per cluster...
        assert len(keeps) == 1, cid
        # ...that every member row agrees on
        assert {r.kept_vec_id for r in members} == {keeps[0].vec_id}
        # clusters are non-trivial (>= 2 members by construction)
        assert len(members) >= 2


def test_semdedup_keeper_is_max_norm(spark):
    import numpy as np

    from amazon_books_review_spark.plans import northstar_queries as nq
    from amazon_books_review_spark.sources.io import load_table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    rows = nq.embedding_semdedup_keepers(spark, SF).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        kept = next(r for r in members if r.keep)
        norm_q = {
            r.vec_id: round(float(np.linalg.norm(emb[r.vec_id])), 6)
            for r in members
        }
        best = max(norm_q.values())
        # keeper rule: (norm_q DESC, vec_id ASC)
        want = min(v for v, n in norm_q.items() if n == best)
        assert kept.vec_id == want


def test_table_row_count_matches_footer(spark):
    from amazon_books_review_spark.sources.io import load_table, table_row_count

    for t in ("embeddings", "orders"):
        assert table_row_count(SF, t) == load_table(spark, SF, t).count()


# ---------------------------------------------------------------------------
# Connected-components convergence (found by the SF10_SEMDEDUP_R19
# decade audit): label propagation on a chain longer than its round
# budget must WARN, and the star variant must still converge to the
# true component minima in O(log n) rounds.


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )


def test_label_prop_warns_unconverged(spark):
    from amazon_books_review_spark.functions import dedup

    edges = _chain_edges(spark, 12)
    with pytest.warns(RuntimeWarning, match="did not.converge|NOT a fixpoint"):
        out = dedup.connected_components(edges, max_iter=2)
        rows = {(r.node, r.cluster_id) for r in out.collect()}
    # unconverged: far end of the chain has not reached label 0
    assert (11, 0) not in rows


def test_star_converges_on_long_chain(spark):
    import warnings as _w

    from amazon_books_review_spark.functions import dedup

    edges = _chain_edges(spark, 40)
    with _w.catch_warnings():
        _w.simplefilter("error")
        out = dedup.connected_components(edges, algorithm="star")
        rows = {(r.node, r.cluster_id) for r in out.collect()}
    assert rows == {(i, 0) for i in range(40)}


def test_star_matches_label_prop_when_converged(spark):
    from amazon_books_review_spark.functions import dedup

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 5)], "id_a long, id_b long"
    )
    lp = {(r.node, r.cluster_id)
          for r in dedup.connected_components(edges).collect()}
    st = {(r.node, r.cluster_id)
          for r in dedup.connected_components(edges, algorithm="star").collect()}
    assert lp == st


# ---------------------------------------------------------------------------
# The certified semantic-dedup identity (embedding_semdedup_certified's
# docstring claim): computing per-endpoint rank over the THRESHOLD
# PAIR SET equals global mutual-k-NN rank for every edge at/above the
# threshold, because a below-threshold neighbor can never outrank an
# above-threshold one under (sim DESC, id ASC).  Pinned by an
# independent numpy reference on a corpus with planted structure.


def test_mutual_knn_at_threshold_identity():
    rng = np.random.default_rng(197)
    n, dim, k, th = 120, 12, 4, 0.45
    v = rng.normal(size=(n, dim))
    for base in range(0, n, 15):
        for j in range(1, 5):
            if base + j < n:
                v[base + j] = v[base] + rng.normal(scale=0.12, size=dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = np.round(v @ v.T, 6)
    np.fill_diagonal(sims, -np.inf)

    def topk_global(i):
        order = np.lexsort((np.arange(n), -sims[i]))[:k]
        return set(order.tolist())

    # global mutual-k-NN edges, filtered at the threshold
    want = set()
    for a in range(n):
        for b in topk_global(a):
            if sims[a, b] >= th and a in topk_global(b):
                want.add((min(a, b), max(a, b)))

    # the certified path's computation: rank over threshold pairs only
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n)
             if sims[a, b] >= th]
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    def topk_threshold(i):
        cand = sorted(nbrs.get(i, []), key=lambda j: (-sims[i, j], j))[:k]
        return set(cand)
    got = set()
    for a, b in pairs:
        if b in topk_threshold(a) and a in topk_threshold(b):
            got.add((a, b))

    assert got == want
    assert want, "fixture must plant threshold-mutual structure"


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_star_components_match_union_find(spark, seed):
    # independent union-find reference on random sparse graphs —
    # chains, forests, and merged components all at once
    from amazon_books_review_spark.functions import dedup

    rng = np.random.default_rng(seed)
    n, m = 200, 160
    ea = rng.integers(0, n, m)
    eb = rng.integers(0, n, m)
    keep = ea != eb
    ea, eb = ea[keep], eb[keep]

    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(ea, eb):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = set(map(int, ea)) | set(map(int, eb))
    # canonical label = component MINIMUM, the operator's contract
    comp = {}
    for v in touched:
        comp.setdefault(find(v), []).append(v)
    want = {
        (v, min(members))
        for members in comp.values()
        for v in members
    }

    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(ea, eb)], "id_a long, id_b long"
    )
    got = {
        (r.node, r.cluster_id)
        for r in dedup.connected_components(edges, algorithm="star").collect()
    }
    assert got == want


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_HEAVY_TESTS"),
    reason="~25 min single-task quadratic scoring; set"
    " SPARK_GRAFT_HEAVY_TESTS=1 to run (validated green 2026-08-16,"
    " see PERF.md round-19 log)",
)
def test_megabucket_beyond_warn_threshold_identical(spark):
    """A single (table_id, sig) bucket BEYOND _GEMM_GROUP_WARN_ROWS
    (the r18 warn-then-OOM scenario) runs to completion under the
    chunked kernel, and its emitted pair set is identical to the
    single-chunk (r18-shape) execution.  A planted near-identical
    cluster gives real emissions to compare; the random bulk at
    threshold 0.999 emits nothing but must be SCORED (the memory and
    compute load).  The quadratic scoring work is the point — m^2/2
    ~ 9e9 candidate cells tiled through bounded GEMMs in ONE task —
    so this runs ~25 min single-threaded and is env-gated out of the
    default battery; the small-scale chunking-invariance suites above
    cover the kernel identity on every commit."""
    import pandas as pd

    m = similarity._GEMM_GROUP_WARN_ROWS + 4096  # 135,168 rows
    dim = 64
    rng = np.random.default_rng(199)
    v = rng.normal(size=(m, dim)).astype(np.float32)
    # planted near-duplicate cluster: rows 1000..1299 ~ one vector
    base = rng.normal(size=dim)
    for i in range(1000, 1300):
        v[i] = (base + rng.normal(scale=1e-3, size=dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pdf = pd.DataFrame({
        "_id": np.arange(m, dtype=np.int64),
        "table_id": np.zeros(m, dtype=np.int32),
        "sig": np.zeros(m, dtype=np.int64),
        "_v": list(v),
    })
    arm = spark.createDataFrame(pdf).repartition(1)

    def run(chunk):
        return {
            (r.id_a, r.id_b, r.sim)
            for r in similarity.lsh_bucket_gemm_scored(
                arm, None, "id_a", "id_b",
                quantize="round6", threshold=0.999, require_lt=True,
                stack_chunk_rows=chunk,
            ).collect()
        }

    got = run(None)          # chunked (default 32k rows -> 5 chunks)
    want = run(m + 1)        # single chunk: the r18 whole-stack shape
    assert got == want
    # every planted pair survives; no random pair reaches 0.999
    ids = {i for pair in got for i in pair[:2]}
    assert ids and ids <= set(range(1000, 1300))
    assert len(got) == 300 * 299 // 2
