"""Similarity search over embedding columns (array<float>).

Two tiers, same output contract (query_id, neighbor_id, rank, sim):

- :func:`cosine_topk` — brute force, exact.  The probe set is small
  and broadcast; the corpus side streams through one projection (dot
  product + norms are Catalyst higher-order array functions — no
  Python, no shuffle of the corpus).  At 100 TB this is one map stage
  + a per-probe top-k (window over rank), which is the right exact
  baseline.
- :func:`lsh_bucketed_topk` — random-hyperplane (sign) LSH buckets:
  candidates = corpus rows sharing the probe's bucket (equi-join on a
  short bit-signature), then exact re-rank within candidates.  Linear
  candidate generation, tunable recall via n_planes/n_tables.  The
  hyperplanes are derived deterministically from md5 — reproducible
  across runs and engines.

Norms/dots are computed in double regardless of the (float32) storage
type; sums fold sequentially in array order => deterministic.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amazon_books_review_spark.session import materialize


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product via zip_with + aggregate."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors per probe (self-matches excluded).

    Similarity is rounded before ranking so that sub-ulp float noise
    can never flip an order; ties break on neighbor id ascending.
    """
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                sim_decimals,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def label_centroids(
    corpus: DataFrame, vec_col: str, label_col: str, dim: int, decimals: int = 6
) -> DataFrame:
    """Per-cell centroids (elementwise mean), the IVF coarse index.

    Computed as ``dim`` scalar AVG aggregations in ONE groupBy — no
    explode, one shuffle on the (tiny-cardinality) label key.
    Components are rounded so centroid values are reproducible across
    engines/partitionings (double avg is order-dependent in the last
    ulps); at 100 TB the rounding also makes the coarse index stable
    across incremental rebuilds.
    """
    avgs = [
        F.round(F.avg(F.col(vec_col).getItem(i).cast("double")), decimals)
        for i in range(dim)
    ]
    return corpus.groupBy(F.col(label_col).alias("cell")).agg(
        F.array(*avgs).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: route each probe to its ``nprobe`` nearest cell
    centroids, search exactly within those cells only.

    The scale shape: the corpus is partitioned by cell (at 100 TB:
    physically partitioned parquet by cell id — partition pruning
    turns each query into an nprobe-cell scan); centroids are a
    broadcast-size table; the candidate join is an equi-join on cell.
    Recall is tunable via nprobe; output contract matches
    :func:`cosine_topk`.
    """
    cents = label_centroids(corpus, vec_col, label_col, dim)
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    # Zero-norm guard (ADVICE r13, applied to every centroid-routing
    # site): a zero probe or all-zero centroid gets the -2.0 sentinel
    # (below any real cosine) so routing degrades to cell-ascending
    # order deterministically instead of engine-defined NULL ordering.
    _route_den = F.col("_qn") * l2_norm(F.col("centroid"))
    routed = (
        p.crossJoin(F.broadcast(cents))
        .withColumn(
            "_csim",
            F.when(
                _route_den > 0,
                F.round(dot(F.col("_qv"), F.col("centroid")) / _route_den, 6),
            ).otherwise(F.lit(-2.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("cell").asc()
    )
    probe_cells = (
        routed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_qv", "_qn", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.col(label_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def ivf_topk_multi(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    k: int = 5,
    nprobes: tuple[int, ...] = (2, 4),
) -> dict[int, DataFrame]:
    """:func:`ivf_topk` at SEVERAL nprobe settings from ONE scoring
    pass (r19, for the recall audits).

    The nprobe=lo candidate set is by construction a subset of the
    nprobe=hi set — the same probe-to-cell ranking, cut at a smaller
    rank.  So: route once, score the corpus⋈candidate join once at the
    WIDEST nprobe carrying the probe-cell rank ``_pr``, materialize the
    narrow (query, neighbor, sim, _pr) table, and derive each nprobe's
    top-k as a window over the ``_pr <= np`` filter.  Per-candidate
    sims, tie-breaks and rounding are expression-identical to
    :func:`ivf_topk`, so each returned frame is row-identical to an
    independent ``ivf_topk(..., nprobe=np)`` call (pytest-pinned) —
    this removes the duplicate centroid build and the duplicate
    corpus-scoring join the audits used to pay per nprobe setting.
    """
    if not nprobes:
        raise ValueError("nprobes must be non-empty")
    widest = max(nprobes)
    cents = label_centroids(corpus, vec_col, label_col, dim)
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    _route_den = F.col("_qn") * l2_norm(F.col("centroid"))
    routed = (
        p.crossJoin(F.broadcast(cents))
        .withColumn(
            "_csim",
            F.when(
                _route_den > 0,
                F.round(dot(F.col("_qv"), F.col("centroid")) / _route_den, 6),
            ).otherwise(F.lit(-2.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("cell").asc()
    )
    probe_cells = (
        routed.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= widest)
        .select("query_id", "_qv", "_qn", "cell", "_pr")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.col(label_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_pr",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
            ).alias("sim"),
        )
        .transform(materialize)  # narrow; scored exactly once
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    out: dict[int, DataFrame] = {}
    for np_ in nprobes:
        out[np_] = (
            scored.filter(F.col("_pr") <= np_)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                "sim",
            )
        )
    return out


def cosine_topk_arrow(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact cosine top-k via mapInPandas + numpy — the vectorized
    Python path.

    Same contract as :func:`cosine_topk`; different physical strategy:
    the probe matrix is shipped to every partition (driver-collected
    once — probes are small by definition) and each Arrow batch of
    corpus vectors is scored with ONE numpy matmul instead of
    per-row expression folds.  Wins over the JVM expression path as
    probes x dim grows (BLAS beats per-element codegen); loses for a
    handful of probes where the Arrow boundary dominates.  Each task
    emits only its local top-k per probe, so the final window sees
    |partitions| * k rows per probe, not the whole corpus.
    """
    import numpy as np

    probe_rows = probes.select(id_col, vec_col).collect()
    probe_ids = np.array([r[id_col] for r in probe_rows])
    probe_mat = np.array([r[vec_col] for r in probe_rows], dtype=np.float64)
    probe_norms = np.linalg.norm(probe_mat, axis=1)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ probe_mat.T) / np.outer(norms, probe_norms)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(probe_ids):
                col = np.round(sims[:, j], sim_decimals)
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], col[mask]
                if len(cand_ids) > k:
                    # partial top-k per batch: sim desc, id asc
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                else:
                    order = np.argsort(cand_ids)
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    local_top = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local_top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    ``cos(a, b) >= threshold`` — exact, via the triangular self-join.

    Scale note: exact all-pairs is O(n^2) dot products and is the
    VERIFY stage; at 100 TB generate candidates first with the
    sign-LSH buckets (:func:`lsh_bucketed_topk`'s ``signed`` shape:
    self-join on (table, signature) — collision prob per plane is
    1 - angle/pi, so near-dup pairs collide with high probability
    while the bulk never meets) and verify only candidates, exactly
    like dedup.lsh_verified_pairs does for Jaccard.
    """
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    a = v.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def lsh_tables_by_planes(
    threshold: float,
    target_recall_pct: int,
    probe_bits: int = 1,
    min_planes: int = 2,
    max_planes: int = 24,
    max_tables: int = 32,
) -> dict[int, int]:
    """Plane-count-aware table derivation: b -> smallest T meeting the
    recall target, for the WHOLE self-sizing range of b.

    The r15 sf1 measurement exposed why a single derived table count
    cannot hold a recall target across scales: planes self-size with
    the corpus (b ~ log2 n), and the per-table hit rate for pairs AT
    the threshold decays geometrically with b — p1^b where
    p1 = 1 - acos(threshold)/pi (the hyperplane agreement rate; the
    audited 7%/table at b=6 matches the closed form's 7.5%).  The
    T=27 config derived at b=6 read 89% recall at sf0.1 but 35.7% at
    sf1's derived b=10 (sampled exact arm, scripts/r15_sf1_recall.py).

    With Hamming-1 multiprobe (``probe_bits=1``) each table also
    probes its b adjacent buckets, so the per-table hit rate becomes
    P(at most one disagreeing plane) = p1^b + b * p1^(b-1) * (1-p1) —
    a b-fold recall amplifier that costs CANDIDATE volume only, never
    a second signature pass (the n log n term the sf1 bench showed
    dominating).  T(b) then follows the union rule
    ceil(ln(1-target) / ln(1-hit(b))), clamped to ``max_tables``
    (past the clamp the target is unreachable at that b — the
    documented ceiling, hit at b >= 14 for the 0.45/85% config).

    Python floats are fine here: the lookup is computed ONCE from
    declared constants and INLINED into both the engine call and the
    SQL oracle (a CASE over b, like the plane arrays) — cross-engine
    parity never re-derives it.  Pytest pins the shipped values.
    """
    import math

    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0 or 1, got {probe_bits}")
    p1 = 1.0 - math.acos(threshold) / math.pi
    residual = 1.0 - target_recall_pct / 100.0
    out: dict[int, int] = {}
    for b in range(min_planes, max_planes + 1):
        hit = p1**b
        if probe_bits:
            hit += b * p1 ** (b - 1) * (1.0 - p1)
        if hit >= 1.0 - residual:
            out[b] = 1
            continue
        out[b] = min(max_tables, math.ceil(math.log(residual) / math.log(1.0 - hit)))
    return out


def lsh_tables_checked(
    t_by_b: dict[int, int], n_planes: int, max_tables: int = 32
) -> int:
    """Look up the derived table count for a RUNTIME-derived plane
    count, WARNING when the table clamp binds (the tables-side twin
    of ``lsh_planes_for``'s clamp warning — VERDICT r14/r15 asked for
    the planes one; the r16 third-decade probe then measured THIS
    clamp binding silently at 200k vectors, recall 66.6% vs the 85%
    target, PERF.md r16 #7).

    At ``t_by_b[n_planes] >= max_tables`` the union-rule derivation
    wanted more tables than the ceiling allows (or met it exactly),
    so the declared recall target is no longer certified at this
    corpus size: the tier degrades in audit-visible recall rather
    than cost, and the audit should be consulted.  The warning is
    driver-side and plan-build-time — the 100 TB failure mode this
    guards is a silent sub-target mining run at a corpus size nobody
    re-audited.
    """
    t = t_by_b[n_planes]
    if t >= max_tables:
        import warnings

        warnings.warn(
            f"lsh_tables_checked: table clamp binds at b={n_planes}"
            f" (T={t} >= max_tables={max_tables}) — the derived recall"
            " target is not certified at this corpus size; the tier"
            " degrades in audit-visible recall (run the matching"
            " *_recall_audit; closed-form prediction in PERF.md r16 #7).",
            RuntimeWarning,
            stacklevel=2,
        )
    return t


def lsh_signatures(
    df: DataFrame,
    id_col: str,
    out_id: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
) -> DataFrame:
    """One-matmul sign-LSH signature pass -> (out_id, table_id, sig).

    THE signature kernel for every multi-table LSH operator (near-dup,
    bitext-LSH, hard-negative-LSH, bucketed top-k).  VERDICT r15 #4:
    the signature pass is the dominant super-linear term of the
    near-dup tier at sf1 (64 s; planes self-size b ~ log2 n, so the
    work grows n log n) and the previous physical strategy — broadcast
    the T x b planes as rows, fan the corpus out to n x T x b rows,
    evaluate a dim-length fold expression per row, shuffle a
    groupBy((id, table)) to sum bits back — paid an interpreted
    per-row fold AND a shuffle for what is one BLAS call.  Here all
    T x b hyperplanes form ONE (T*b, dim) float64 matrix shipped in
    the task closure (<=400 KB at the 32x24 ceiling), each Arrow batch
    computes `vecs @ planes.T` in a single vectorized matmul, packs
    sign bits per table with a weights dot, and emits the n x T rows
    directly — map-only, NO shuffle, no plane join.

    Determinism: the hyperplanes are the same md5-derived constants
    (:func:`deterministic_planes`) and the projection is float64; a
    sign could differ from the oracle's sequential fold only if
    |projection| were at float64 rounding scale (~1e-15 for these
    O(1)-component planes) — the same argument as
    :func:`cosine_topk_arrow`'s round-6, driver-hash-green for two
    rounds.  Bit weights are distinct powers of two, so signatures
    are order-independent by construction.
    """
    import numpy as np

    planes = np.asarray(
        [
            comp
            for t in range(n_tables)
            for comp in deterministic_planes(n_planes, dim, t)
        ],
        dtype=np.float64,
    )  # (T*b, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    table_ids = np.arange(n_tables, dtype=np.int32)

    def _sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["_v"].values).astype(np.float64)
            proj = vecs @ planes.T  # (m, T*b)
            bits = (proj >= 0).astype(np.int64).reshape(
                len(pdf), n_tables, n_planes
            )
            sigs = bits @ weights  # (m, T)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf["_id"].values, n_tables),
                    "table_id": np.tile(table_ids, len(pdf)),
                    "sig": sigs.reshape(-1),
                }
            )

    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(_sig, schema=f"{out_id} long, table_id int, sig long")


def hamming1_probes(
    sigs: DataFrame, n_planes: int, sig_col: str = "sig"
) -> Column | DataFrame:
    """Hamming-1 multiprobe explode: each (.., table_id, sig) row fans
    out to 1 + n_planes rows — the original signature plus its
    ``n_planes`` one-bit flips (``sig ^ (1 << p)``).  One-sided
    probing suffices for pair mining (Hamming-1 adjacency is
    symmetric); the b-fold per-table recall amplifier costs CANDIDATE
    volume only, never a second signature pass (see
    :func:`lsh_tables_by_planes`)."""
    probe_arr = F.array(
        F.col(sig_col),
        *[
            F.expr(f"{sig_col} ^ cast(shiftleft(1L, {p}) as long)")
            for p in range(n_planes)
        ],
    )
    other = [c for c in sigs.columns if c != sig_col]
    return sigs.select(*other, F.explode(probe_arr).alias(sig_col))


def hamming1_probes_tagged(
    sigs: DataFrame, n_planes: int, sig_col: str = "sig"
) -> DataFrame:
    """Radius-1 explode carrying a FLIP-ORIGIN tag ``_r`` (0 = the
    original signature, p+1 = bit p flipped) — the bookkeeping the
    per-bucket GEMM kernel needs to emit each candidate pair exactly
    once per table under symmetric radius-1 probing.

    Why: with both arms exploded, a pair whose signatures agree on a
    table (Hamming 0) meets in ALL 1+b probed buckets of that table
    — and same-bucket pairs are precisely the dominant candidate
    mass, so naive emission multiplies the post-kernel shuffle by up
    to (1+b).  Enumerating the co-bucket combinations by flip tags
    (a = left row's tag, c = right row's tag): distance-0 pairs meet
    at (0,0) and every (k,k); distance-1 at (0,i) and (i,0);
    distance-2 at (i,j) and (j,i).  The canonical rule
    ``a < c OR a = c = 0`` selects exactly one combination per pair
    per table — the kernel masks emission with it, leaving
    multiplicity = number of tables at distance <= 2, identical to
    the one-sided shapes."""
    structs = [F.struct(F.col(sig_col).alias("s"), F.lit(0).alias("r"))]
    for p in range(n_planes):
        structs.append(
            F.struct(
                F.expr(
                    f"{sig_col} ^ cast(shiftleft(1L, {p}) as long)"
                ).alias("s"),
                F.lit(p + 1).alias("r"),
            )
        )
    other = [c for c in sigs.columns if c != sig_col]
    exploded = sigs.select(*other, F.explode(F.array(*structs)).alias("_p"))
    return exploded.select(
        *other,
        F.col("_p.s").alias(sig_col),
        F.col("_p.r").alias("_r"),
    )


def hamming2_probes(
    sigs: DataFrame, n_planes: int, sig_col: str = "sig"
) -> DataFrame:
    """Hamming-<=2 multiprobe explode: each (.., table_id, sig) row
    fans out to ``1 + b + C(b, 2)`` rows — the signature, its one-bit
    flips, and its two-bit flips.  The ONE-SIDED physical strategy for
    radius-2 coverage: correct when the exploding side is small (a
    probe subset), byte-infeasible when it is the full corpus — there
    the planner uses the symmetric split instead (radius-1 on BOTH
    arms covers Hamming-<=2 through a shared bucket: for sigs at
    distance 2, each side flips one of the two differing bits; at
    distance <=1 one side's flip or the base already meets the other).
    See :func:`lsh_adaptive_plan` for when radius 2 engages."""
    exprs = [F.col(sig_col)]
    for p in range(n_planes):
        exprs.append(
            F.expr(f"{sig_col} ^ cast(shiftleft(1L, {p}) as long)")
        )
    for p in range(n_planes):
        for q in range(p + 1, n_planes):
            mask = (1 << p) | (1 << q)
            exprs.append(
                F.expr(f"{sig_col} ^ cast({mask} as long)")
            )
    other = [c for c in sigs.columns if c != sig_col]
    return sigs.select(*other, F.explode(F.array(*exprs)).alias(sig_col))


class LshProbePlan:
    """Joint (tables, probe_bits) derivation per plane count — the
    adaptive escalation the 32-table clamp needs (VERDICT r16 #1).

    ``by_b[b] -> (n_tables, probe_bits, clamped)``: for each plane
    count in the self-sizing range, the smallest probe level in
    ``[base_probe_bits, max_probe_bits]`` whose union-rule table count
    fits ``max_tables``, the table count at that level, and whether
    the clamp TRULY bound (the union rule needed MORE than
    ``max_tables`` even at ``max_probe_bits`` — an exact fit is
    certified, per ADVICE r16: warning only on true clamping).  The
    ceiling travels WITH the derivation (ADVICE r16: a checker whose
    default ceiling can drift from the dict it checks is a silent
    false negative), so :func:`lsh_plan_checked` takes only the plan.
    """

    __slots__ = ("threshold", "target_recall_pct", "max_tables", "by_b")

    def __init__(
        self,
        threshold: float,
        target_recall_pct: int,
        max_tables: int,
        by_b: dict[int, tuple[int, int, bool]],
    ) -> None:
        self.threshold = threshold
        self.target_recall_pct = target_recall_pct
        self.max_tables = max_tables
        self.by_b = by_b


def lsh_probe_hit_rate(threshold: float, b: int, probe_bits: int) -> float:
    """Per-table hit probability for a pair AT the design threshold
    under Hamming-<=``probe_bits`` coverage: the two signatures land
    in a common probed bucket iff they disagree on at most
    ``probe_bits`` of the ``b`` hyperplanes, so the rate is the
    binomial head sum_{j<=pb} C(b,j) * p1^(b-j) * (1-p1)^j with
    p1 = 1 - acos(threshold)/pi (the hyperplane agreement rate).
    ``probe_bits`` 0/1 reproduce :func:`lsh_tables_by_planes`'s
    closed forms exactly; 2 adds the C(b,2) term VERDICT r16 #1 named
    as the recall-recovery lever past the table clamp."""
    import math

    p1 = 1.0 - math.acos(threshold) / math.pi
    hit = 0.0
    for j in range(probe_bits + 1):
        hit += math.comb(b, j) * p1 ** (b - j) * (1.0 - p1) ** j
    return hit


def lsh_adaptive_plan(
    threshold: float,
    target_recall_pct: int,
    base_probe_bits: int = 1,
    max_probe_bits: int = 2,
    min_planes: int = 2,
    max_planes: int = 24,
    max_tables: int = 32,
) -> LshProbePlan:
    """Plane-count-aware (tables, probe_bits) plan: probe level
    ESCALATES exactly when the table clamp would bind (VERDICT r16
    #1).  For each b, try probe levels from ``base_probe_bits`` up:
    the union rule T = ceil(ln(1-target) / ln(1-hit(b, pb))) at the
    first level with T <= ``max_tables`` wins — recall is bought with
    candidate volume (probing) only where buying it with tables no
    longer fits, and the signature pass (the n log n term) never
    grows.  At the 0.45/90 near-dup design point this extends the
    certified region from b <= 10 (~65k vectors at occupancy 32) to
    b <= 14 (~524k): b=11 needs 38 tables at Hamming-1 but only 11 at
    Hamming-2; b=13 (the r16 third-decade probe that measured 66.6%
    recall against the 85 floor) needs 79 vs 20.  Only past
    ``max_probe_bits`` AND ``max_tables`` (b >= 15) is the entry
    marked clamped=True — the warning becomes a true positive by
    construction (ADVICE r16 #1: need == max_tables is an exact fit,
    certified, silent).

    Candidate-volume cost of the escalation is bounded by the
    PHYSICAL split (see :func:`cosine_neardup_lsh_verified`): radius-2
    coverage is realized as radius-1 explode on BOTH arms —
    (1+b)-fold fan-out per side, never the one-sided 1+b+C(b,2) — and
    scored by the per-bucket GEMM kernel, so the extra candidates are
    numpy flops, not JVM expression folds.

    Python floats are fine here: the lookup is computed ONCE from
    declared constants and INLINED into both the engine call and the
    SQL oracle (CASE over b), so cross-engine parity never re-derives
    the geometry.  Pytest pins the shipped values."""
    import math

    if not (0 <= base_probe_bits <= max_probe_bits <= 2):
        raise ValueError(
            f"need 0 <= base_probe_bits <= max_probe_bits <= 2, got"
            f" ({base_probe_bits}, {max_probe_bits})"
        )
    if not (0 <= target_recall_pct < 100):
        raise ValueError(
            f"target_recall_pct must be in [0, 100), got"
            f" {target_recall_pct} — a 100% union-recall target needs"
            " unbounded tables (ln(0) in the union rule); certify"
            " exactness with the exact tier, not an LSH plan"
        )
    residual = 1.0 - target_recall_pct / 100.0
    by_b: dict[int, tuple[int, int, bool]] = {}
    for b in range(min_planes, max_planes + 1):
        need = max_tables + 1
        for pb in range(base_probe_bits, max_probe_bits + 1):
            hit = lsh_probe_hit_rate(threshold, b, pb)
            need = (
                1
                if hit >= 1.0 - residual
                else math.ceil(math.log(residual) / math.log(1.0 - hit))
            )
            if need <= max_tables:
                by_b[b] = (need, pb, False)
                break
        else:
            # true clamp: even max_probe_bits wants > max_tables
            by_b[b] = (max_tables, max_probe_bits, need > max_tables)
    return LshProbePlan(threshold, target_recall_pct, max_tables, by_b)


def lsh_plan_checked(plan: LshProbePlan, n_planes: int) -> tuple[int, int]:
    """Look up (n_tables, probe_bits) for a RUNTIME-derived plane
    count, warning IFF the plan's clamp truly bound there (the
    ADVICE-r16 fix of :func:`lsh_tables_checked`: an exact-fit
    T == max_tables meets the recall target and stays silent; the
    ceiling is read from the plan itself so check and derivation
    cannot drift).

    Out-of-band plane counts raise a DESCRIPTIVE error (ADVICE r17):
    the plan's band comes from the (min_planes, max_planes) pair its
    builder was called with, and correctness relies on every caller
    passing the SAME bounds to both :func:`lsh_planes_for` and
    :func:`lsh_adaptive_plan` — an unchecked coupling a bare KeyError
    would surface as line noise at the lookup site."""
    try:
        n_tables, probe_bits, clamped = plan.by_b[n_planes]
    except KeyError:
        lo, hi = min(plan.by_b), max(plan.by_b)
        raise ValueError(
            f"lsh_plan_checked: n_planes={n_planes} is outside the"
            f" plan's derived band [{lo}, {hi}] — lsh_planes_for and"
            " lsh_adaptive_plan were called with different"
            " (min_planes, max_planes) bounds; derive both from the"
            " same declared constants"
        ) from None
    if clamped:
        import warnings

        warnings.warn(
            f"lsh_plan_checked: table clamp binds at b={n_planes}"
            f" (T={n_tables} = max_tables, probe_bits={probe_bits}"
            " already at its ceiling) — the derived recall target"
            f" ({plan.target_recall_pct}%) is not certified at this"
            " corpus size; the tier degrades in audit-visible recall"
            " (run the matching *_recall_audit; closed-form"
            " prediction via lsh_probe_hit_rate).",
            RuntimeWarning,
            stacklevel=2,
        )
    return n_tables, probe_bits


#: GEMM row-block cap: chunk the left side so each scored block stays
#: <= ~4M doubles (~32 MB) regardless of bucket skew.
_GEMM_BLOCK_ELEMS = 1 << 22

#: Stack-chunk rows (r19, VERDICT r18 #3): a (table_id, sig) group's
#: vectors are held as a LIST of <=this-many-row matrices at their
#: STORAGE dtype, and upcast to float64 one tile at a time inside the
#: GEMM loops — never as one whole-group float64 stack.  A degenerate
#: bucket (giant exact-duplicate cluster) now degrades to several
#: bounded GEMM calls: peak additional allocation beyond the Arrow
#: input rows is one storage-dtype copy of the group's vectors (the
#: chunk list — same bytes as the input payload) plus TWO float64
#: tiles of <= _GEMM_STACK_CHUNK_ROWS x dim (~16 MB each at dim 64)
#: and one scored block of <= _GEMM_BLOCK_ELEMS doubles, where the
#: r18 shape allocated 3x the group's vector bytes in float64 up
#: front (stack + astype) and an unbounded scored row.  At or below
#: one chunk (every occupancy-budgeted bucket) the tile loop
#: degenerates to exactly the r18 single-GEMM path.
_GEMM_STACK_CHUNK_ROWS = 1 << 15

#: Group-size guard (ADVICE r17): past this row count the kernel
#: warns — the float64 working set is tile-bounded (see
#: _GEMM_STACK_CHUNK_ROWS) but the group's input rows + the
#: storage-dtype chunk list still scale with the bucket, and the
#: within-bucket candidate count is quadratic, so a degenerate bucket
#: costs quadratic CPU even with bounded memory.  The durable fix is
#: capacity, not code: raise n_planes (lsh_planes_for's occupancy
#: budget bounds E[bucket] but not a duplicate cluster's bucket) or
#: pre-dedupe exact duplicates before the miner.
_GEMM_GROUP_WARN_ROWS = 1 << 17

#: Partition-size guard (ADVICE r18): _score_local concatenates the
#: whole Spark partition (base + high-bit-flip copies, vectors
#: duplicated (1 + b - f)-fold as object rows) before bucket
#: grouping, so the partition — not the bucket — is the coarsest
#: materialized unit.  Rows per partition ~= (1 + b - f) * n * T /
#: num_shuffle_partitions; past this count (~0.7 GB of 64-dim float32
#: object rows) warn with the remedy: raise
#: spark.sql.shuffle.partitions (more, smaller partitions) or
#: n_planes (fewer rows per bucket key).
_LOCAL_PARTITION_WARN_ROWS = 1 << 21


def _warn_oversized_local_partition(n_rows: int) -> None:
    """Partition-level materialization warning for the
    partition-local transport path (module-level so pytest can pin
    the threshold; fires in the executor log like the group guard)."""
    if n_rows <= _LOCAL_PARTITION_WARN_ROWS:
        return
    import warnings

    warnings.warn(
        f"lsh_bucket_gemm_scored: one shuffle partition holds"
        f" {n_rows} probe-expanded rows"
        f" (> {_LOCAL_PARTITION_WARN_ROWS}) before bucket grouping —"
        " the partition-local transport materializes the whole"
        " partition's object rows in the Python worker; raise"
        " spark.sql.shuffle.partitions or n_planes.",
        RuntimeWarning,
        stacklevel=3,
    )


def _stack_chunks(vs, idx=None, ch=_GEMM_STACK_CHUNK_ROWS):
    """Stack an object array of vectors into a list of <=``ch``-row
    matrices AT STORAGE DTYPE, plus the float64 L2 norms (upcast
    transiently per chunk — values identical to a whole-stack float64
    einsum, since norms are row-independent).  ``idx`` optionally
    gathers (fancy-index) before stacking."""
    import numpy as np

    if idx is not None:
        vs = vs[idx]
    m = len(vs)
    chunks = [np.stack(tuple(vs[c0 : min(c0 + ch, m)])) for c0 in range(0, m, ch)]
    norms = np.concatenate(
        [
            np.sqrt(
                np.einsum("ij,ij->i", c64, c64)
            )
            for c in chunks
            for c64 in (c.astype(np.float64),)
        ]
    ) if chunks else np.empty(0, np.float64)
    return chunks, norms


def _chunk_rows_f64(chunks, i0, i1, ch=_GEMM_STACK_CHUNK_ROWS):
    """Materialize rows [i0, i1) of a chunk list as ONE float64
    matrix (tile) — the only float64 copies the kernel ever holds."""
    import numpy as np

    c_first, c_last = i0 // ch, (i1 - 1) // ch
    if c_first == c_last:
        c = chunks[c_first]
        return c[i0 - c_first * ch : i1 - c_first * ch].astype(np.float64)
    parts = []
    for ci in range(c_first, c_last + 1):
        lo = max(i0 - ci * ch, 0)
        hi = min(i1 - ci * ch, len(chunks[ci]))
        parts.append(chunks[ci][lo:hi])
    return np.concatenate(parts).astype(np.float64)


def _merge_row_topk(run_v, run_i, new_v, new_i, k):
    """Merge two per-row top-k candidate sets — each already ranked
    by (score desc, id asc, column-position asc), with every running
    column position preceding every new one — and keep each row's
    top-k under the SAME rule.  Two stable argsorts implement the
    per-row lexicographic order: sort by id first (stable, so
    score-AND-id ties keep concat order = column-position order),
    then by -score (stable, so score ties keep ascending id).  A
    member of the final top-k is beaten by fewer than k candidates
    overall, hence by fewer than k inside its own chunk, so it
    survives the per-chunk pre-selection; the merge therefore
    reproduces exactly the selection one stable argsort over the full
    id-sorted column set makes — which is what keeps the chunked
    row-wise top-k OUTPUT-IDENTICAL to the r18 whole-bucket GEMM
    (pytest-pinned on a synthetic mega-bucket)."""
    import numpy as np

    mv = np.concatenate([run_v, new_v], axis=1)
    mi = np.concatenate([run_i, new_i], axis=1)
    ord1 = np.argsort(mi, axis=1, kind="stable")
    mv = np.take_along_axis(mv, ord1, axis=1)
    mi = np.take_along_axis(mi, ord1, axis=1)
    ord2 = np.argsort(-mv, axis=1, kind="stable")[:, :k]
    return (
        np.take_along_axis(mv, ord2, axis=1),
        np.take_along_axis(mi, ord2, axis=1),
    )


def lsh_local_probe_split(
    n_planes: int,
    n_tables: int,
    parallelism: int,
    min_keys_factor: int = 8,
) -> int:
    """Derive ``local_probe_bits`` (f) for the partition-local
    multiprobe transport: keep the f LOW sig bits partition-local
    (zero exchange fan-out for their flips) while leaving enough
    DISTINCT partition keys — ``n_tables * 2^(b - f)`` — to feed the
    cluster, i.e. at least ``min_keys_factor * parallelism``.  The
    result is the LARGEST such f (smallest exchange), clamped to
    [0, b].  Pure integer arithmetic; like ``lsh_planes_for`` this is
    a capacity decision derived from declared budgets, never
    inherited from a smaller run — f only changes WHERE probe rows
    are expanded, never which buckets exist, so any f is
    output-identical (kernel contract).

    ``min_keys_factor=8`` is MEASURED, not folklore (r18, 100k/side
    bitext scored segment, P=32/64 shuffle partitions): keys ~= 2x
    parallelism (f=9, 104 keys) lost 40% to balls-in-bins imbalance
    of the coarse keys (77s vs the JVM explode's 72s); keys ~= 8-13x
    (f=7, 416 keys) ran 54.9s — ahead of the JVM shape at half its
    exchange bytes — and pushing keys to 26x (f=6) gave the fan-out
    back (67s).  The factor buys hash balance; past ~8x parallelism
    the extra fan-out costs more than the balance returns."""
    if n_planes < 1 or n_tables < 1 or parallelism < 1:
        raise ValueError(
            f"need positive sizes, got (b={n_planes}, T={n_tables},"
            f" P={parallelism})"
        )
    g = 0
    while (
        g < n_planes
        and n_tables * (1 << g) < min_keys_factor * parallelism
    ):
        g += 1
    return n_planes - g


def lsh_exchange_parallelism(spark: SparkSession) -> int:
    """Parallelism denominator for :func:`lsh_local_probe_split`
    (ADVICE r18): the `(table_id, _m)` repartition's width is
    ``spark.sql.shuffle.partitions``, not
    ``sparkContext.defaultParallelism`` — the repo's benches keep the
    two equal, but on a borrowed session where they diverge the
    distinct-key budget must be computed against the ACTUAL exchange
    width (and a defaultParallelism larger than the shuffle width
    still bounds how many tasks can want a key at once, so take the
    max of the two)."""
    try:
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # non-numeric (e.g. AQE-managed "auto"): fall back to the
        # scheduler's view alone
        shuffle = 0
    return max(spark.sparkContext.defaultParallelism, shuffle)


def _warn_oversized_gemm_group(n_rows: int) -> None:
    """The group-size guard's warning, module-level so pytest can pin
    the threshold logic directly (the closure it guards runs in the
    Arrow worker process, where a warning is observable only in the
    executor log)."""
    if n_rows <= _GEMM_GROUP_WARN_ROWS:
        return
    import warnings

    warnings.warn(
        f"lsh_bucket_gemm_scored: one (table_id, sig) bucket holds"
        f" {n_rows} rows (> {_GEMM_GROUP_WARN_ROWS}) — a degenerate"
        " bucket (exact-duplicate cluster, or n_planes too low for"
        " the corpus) materializes whole in the Python worker; raise"
        " n_planes via lsh_planes_for's occupancy budget or"
        " pre-dedupe exact duplicates upstream.",
        RuntimeWarning,
        stacklevel=3,
    )


def lsh_bucket_gemm_scored(
    left: DataFrame,
    right: DataFrame | None,
    out_left: str,
    out_right: str,
    quantize: str,
    threshold: float | None = None,
    require_lt: bool = False,
    topk: int | None = None,
    exclude_eq: bool = False,
    symmetric_probe_planes: int | None = None,
    local_probe_bits: int = 0,
    stack_chunk_rows: int | None = None,
) -> DataFrame:
    """Score every within-bucket candidate pair with a per-bucket
    numpy GEMM — the scoring half of the LSH bucket join, moved from
    JVM expression folds to BLAS (VERDICT r16 #4: the bitext
    full-corpus wall was 1047 s at 100k/side, CPU-bound in the
    per-candidate ``aggregate(zip_with(...))`` fold at ~10 us per
    candidate-core; one GEMM scores the same block at memory
    bandwidth).

    Arms arrive as (``_id`` long, ``table_id``, ``sig``, ``_v``) —
    signature rows with the vector attached AT ITS STORAGE TYPE,
    already exploded to their probe radius.  Keeping float32 columns
    float32 through the exchange halves the dominant byte term (the
    fan-out x vector width shuffle); the kernel upcasts to float64
    before the GEMM, which is value-identical to casting JVM-side
    first (float32 -> float64 is exact), and computes norms in
    float64 from the same values.  Physical plan: tag sides, union,
    ONE hash exchange on (table_id, sig), a within-partition sort,
    then mapInPandas walks each partition in key order buffering rows
    until a (table_id, sig) group completes (groups span Arrow batch
    boundaries; the carry dataframe bridges them), splits the group
    by side, and scores the m_l x m_r block in row chunks.  Vectors
    cross exactly ONE exchange and one Arrow boundary; candidate
    pairs are never materialized JVM-side — only survivors (or, in
    emit-all mode, the scored triples) come back.

    ``right=None`` is the self-join form (near-dup): the single arm's
    groups score their strict upper triangle (rows sorted by id, so
    pairs emit as id_left < id_right once per bucket).  ``quantize``
    picks the contract: ``"round6"`` emits ``sim`` = np.round(cos, 6)
    filtered at ``threshold`` (the near-dup verify, same rounding as
    :func:`cosine_topk_arrow` — driver-hash-green precedent for
    np.round vs the oracle's sequential-fold round); ``"floorq"``
    emits ``cos_q`` = floor(cos * 1e6 + 0.5) for every candidate (the
    bitext margin input).  Cross-bucket duplicates of a pair remain
    (same contract as the JVM bucket join) — callers dedupe the
    scored output exactly as before.  GEMM summation order differs
    from the sequential fold only in the last ulps (~1e-16 on unit
    vectors), below both quantizers' step — the cosine_topk_arrow
    determinism argument, two rounds driver-green.

    ``topk`` (two-sided modes only) enables MAP-SIDE PARTIAL TOP-K:
    each scored block emits only its row-wise and column-wise top-k
    instead of every candidate.  A pair in a side's global top-k is,
    in every block where it appears, beaten by fewer than k
    candidates, so the union of block top-ks is a superset of both
    sides' true top-k sets and the mutual-k-NN margin tail downstream
    is EXACTLY preserved — while the emitted volume drops from
    candidate-quadratic (at Hamming-<=2 coverage, ~18% of the cross
    product PER TABLE at b=12) to (rows x k).  This is what keeps the
    margin shuffle off the floor at full-corpus scale: the r17
    adaptive bitext wall at 100k/side exhausted an 80 GB local disk
    in emit-all mode before this reduction existed.

    The two top-k shapes differ by their consumer's contract (r18):
    ``floorq`` + ``topk`` emits each block's ROW-wise AND COLUMN-wise
    top-k (the mutual-k-NN margin tail consumes both directions);
    ``round6`` + ``topk`` emits the ROW-wise top-k only — the ANN
    serving contract, where the left arm is the probe side and only
    per-query rankings exist downstream (:func:`lsh_bucketed_topk`).
    In round6+topk mode ``threshold`` may be None (rank-everything);
    masked cells use a -inf sentinel, and the stable argsort over
    id-ascending columns breaks rounded-score ties on ascending
    right-id — the same (sim DESC, id ASC) rule as the downstream
    rank window, which is what makes the per-block top-k union a
    SUPERSET of the true per-query top-k (see lsh_bucketed_topk's
    derivation).

    ``exclude_eq`` (two-sided only) masks ``left_id == right_id``
    cells BEFORE the top-k selection — the self-pair exclusion an ANN
    probe-subset-of-corpus caller needs; filtering after the fact
    would let a self pair (cos = 1) crowd a real candidate out of the
    per-block top-k.

    PARTITION-LOCAL MULTIPROBE (r18 — the wall VERDICT r17 #7 named):
    with ``symmetric_probe_planes=b`` the arms arrive UNEXPLODED and
    the kernel performs the tagged radius-1 explode itself, split at
    ``local_probe_bits=f``: a flip of one of the f LOW sig bits keeps
    the partition key ``(table_id, sig >> f)`` unchanged, so those
    probe rows are expanded INSIDE the Python worker after the
    exchange — only the base row plus its (b - f) HIGH-bit flips ship
    (fan-out 1 + b - f instead of 1 + b), and the vector crosses the
    exchange up to (1 + b - f) times instead of (1 + b).  The JVM
    sort of exploded rows disappears too: the worker accumulates its
    partition, expands, lexsorts the NARROW (table, sig, tag, row)
    arrays (vectors stay one un-duplicated matrix), and walks bucket
    groups in key order feeding the SAME _score_group — the per-bucket
    probe-row multiset is identical for every f, so outputs are
    byte-identical across the split (pytest-pinned), and f is a pure
    capacity knob: r17's emit shape is f=0; f=b partitions by table
    alone.  At 500k/side bitext (b=14, T=23) the exploded exchange
    was headed for ~100 GB of vector-carrying shuffle — past the
    local disk; f=11 ships 3 copies, not 15.  Memory contract: one
    partition's base rows live in the worker at once (~(1+b-f) *
    2n*T/(T*2^(b-f)) rows) — derive f from a row budget via
    :func:`lsh_local_probe_split`.

    BOUNDED GEMM TILES (r19, VERDICT r18 #3): a group's vectors are
    held as storage-dtype chunks of ``stack_chunk_rows`` rows
    (default ``_GEMM_STACK_CHUNK_ROWS``) and upcast to float64 one
    tile at a time, so a degenerate bucket degrades to several
    bounded GEMM calls instead of one whole-group float64 stack
    (warn-then-OOM).  Chunking is OUTPUT-PRESERVING: emit-all and
    threshold modes partition the candidate cells exactly; row-wise
    top-k selection merges per-chunk pre-selections under the
    identical (score desc, id asc, column-position asc) rule
    (:func:`_merge_row_topk`); floorq's column-wise top-k is
    untouched because every column lives in exactly one chunk.  Only
    emission ORDER within a group changes, which no consumer observes
    (every caller dedupes by pair).  The parameter exists for the
    chunking-invariance tests; production callers take the default."""
    if quantize not in ("round6", "floorq"):
        raise ValueError(f"quantize must be round6|floorq, got {quantize!r}")
    if quantize == "floorq" and threshold is not None:
        raise ValueError("floorq mode emits all candidates; threshold must be None")
    if topk is not None and right is None:
        raise ValueError("topk reduction is defined for two-sided modes only")
    if quantize == "round6" and threshold is None and topk is None:
        raise ValueError(
            "round6 without topk emits the full candidate product;"
            " pass a threshold (verify mode) or topk (serving mode)"
        )
    if exclude_eq and right is None:
        raise ValueError(
            "exclude_eq is a two-sided rule; self mode already emits"
            " only the strict upper triangle"
        )
    if symmetric_probe_planes is not None:
        if symmetric_probe_planes < 1:
            raise ValueError(
                f"symmetric_probe_planes must be >= 1, got"
                f" {symmetric_probe_planes}"
            )
        if not (0 <= local_probe_bits <= symmetric_probe_planes):
            raise ValueError(
                f"local_probe_bits must be in [0, {symmetric_probe_planes}],"
                f" got {local_probe_bits}"
            )
        if "_r" in left.columns or (
            right is not None and "_r" in right.columns
        ):
            raise ValueError(
                "symmetric_probe_planes explodes in-kernel; pass"
                " UNEXPLODED arms (no _r column)"
            )
        # ADVICE r18: the transport writes _hf/_m with withColumn —
        # an arm already carrying either would be silently
        # overwritten instead of rejected
        for reserved in ("_hf", "_m"):
            if reserved in left.columns or (
                right is not None and reserved in right.columns
            ):
                raise ValueError(
                    f"arm column {reserved!r} collides with the"
                    " partition-local transport's internal columns"
                    " (_hf, _m); rename it before the kernel call"
                )
    elif local_probe_bits:
        raise ValueError(
            "local_probe_bits requires symmetric_probe_planes"
        )
    if right is not None and (
        "_side" in left.columns or "_side" in right.columns
    ):
        raise ValueError(
            "arm column '_side' collides with the kernel's side tag;"
            " rename it before the kernel call"
        )
    import numpy as np

    # chunk size resolved HERE so the worker closures capture the
    # value (cloudpickle ships nested closures by value but
    # module-level helpers by reference — a module-global override
    # would desynchronize the two in the Arrow worker); the
    # parameter exists for the mega-bucket chunking-invariance tests
    stack_rows = stack_chunk_rows or _GEMM_STACK_CHUNK_ROWS
    if stack_rows < 1:
        raise ValueError(f"stack_chunk_rows must be >= 1, got {stack_rows}")

    self_mode = right is None
    if self_mode:
        tagged = left
    else:
        if ("_r" in left.columns) != ("_r" in right.columns):
            raise ValueError(
                "flip-origin tags (_r) must be on BOTH arms or neither"
                " — a half-tagged canonical rule drops candidates"
            )
        tagged = left.withColumn("_side", F.lit(0)).unionByName(
            right.withColumn("_side", F.lit(1))
        )
    if symmetric_probe_planes is None:
        tagged = tagged.repartition("table_id", "sig").sortWithinPartitions(
            "table_id", "sig"
        )
    else:
        # partition-local multiprobe transport: ship the base row and
        # its HIGH-bit flips only; every target bucket of a shipped
        # copy shares the (table_id, sig >> f) partition key, so the
        # f LOW-bit flips expand after the exchange, in the worker
        b, f = symmetric_probe_planes, local_probe_bits
        tagged = tagged.withColumn(
            "_hf",
            F.explode(
                F.array(F.lit(-1), *[F.lit(p) for p in range(f, b)])
            ),
        ).withColumn(
            "_m",
            F.expr(
                "shiftrightunsigned(CASE WHEN _hf < 0 THEN sig"
                f" ELSE sig ^ cast(shiftleft(1L, _hf) as long) END, {f})"
            ),
        )
        tagged = tagged.repartition("table_id", "_m")
    score_col = "sim" if quantize == "round6" else "cos_q"
    out_schema = (
        f"{out_left} long, {out_right} long, "
        + ("sim double" if quantize == "round6" else "cos_q long")
    )

    def _score_group(g):
        import pandas as pd

        _warn_oversized_gemm_group(len(g))
        tagged_arms = "_r" in g.columns
        if self_mode:
            m = len(g)
            if m < 2:
                return None
            order = np.argsort(g["_id"].to_numpy(), kind="stable")
            ids = g["_id"].to_numpy()[order]
            # vectors stay at storage dtype in bounded chunks; each
            # GEMM tile upcasts transiently (_GEMM_STACK_CHUNK_ROWS)
            chunks, nn = _stack_chunks(g["_v"].to_numpy(), order, stack_rows)
            tags = g["_r"].to_numpy()[order] if tagged_arms else None
            la, lb, ls = [], [], []
            ch = stack_rows
            block = max(1, _GEMM_BLOCK_ELEMS // min(m, ch))
            for i0 in range(0, m - 1, block):
                i1 = min(i0 + block, m)
                Vi = _chunk_rows_f64(chunks, i0, i1, ch)
                for cj, Vc in enumerate(chunks):
                    c0 = cj * ch
                    c1 = c0 + len(Vc)
                    if c1 <= i0 + 1:
                        # whole chunk at/left of the diagonal: no
                        # strict-upper-triangle cell in this tile
                        continue
                    raw = (Vi @ Vc.astype(np.float64).T) / np.outer(
                        nn[i0:i1], nn[c0:c1]
                    )
                    tri = (
                        np.arange(c0, c1)[None, :]
                        > np.arange(i0, i1)[:, None]
                    )
                    if tagged_arms:
                        # canonical once-per-table emission: a < c or
                        # a == c == 0, a = lower-id row's flip tag
                        ta = tags[i0:i1][:, None]
                        tc = tags[c0:c1][None, :]
                        tri &= (ta < tc) | ((ta == 0) & (tc == 0))
                    rows, cols = np.nonzero(tri)
                    ida, idb = ids[rows + i0], ids[cols + c0]
                    vals = raw[rows, cols]
                    if quantize == "round6":
                        vals = np.round(vals, 6)
                        keep = vals >= threshold
                        if require_lt:
                            keep &= ida < idb
                        ida, idb, vals = ida[keep], idb[keep], vals[keep]
                    else:
                        vals = np.floor(vals * 1e6 + 0.5).astype(np.int64)
                    la.append(ida)
                    lb.append(idb)
                    ls.append(vals)
            if not la:
                return None
            ida = np.concatenate(la)
            if not len(ida):
                return None
            return pd.DataFrame(
                {
                    out_left: ida,
                    out_right: np.concatenate(lb),
                    score_col: np.concatenate(ls),
                }
            )
        lmask = g["_side"].to_numpy() == 0
        gl, gr = g[lmask], g[~lmask]
        if not len(gl) or not len(gr):
            return None
        # sort both sides by id so stable argsorts break score ties
        # on ascending id — the margin/top-k ranking's tie rule
        lorder = np.argsort(gl["_id"].to_numpy(), kind="stable")
        rorder = np.argsort(gr["_id"].to_numpy(), kind="stable")
        lids = gl["_id"].to_numpy()[lorder]
        rids = gr["_id"].to_numpy()[rorder]
        # left side: object-pointer reorder only; each row block
        # upcasts its own tile.  Right side: storage-dtype chunk
        # list (_GEMM_STACK_CHUNK_ROWS) upcast one tile at a time.
        lvs = gl["_v"].to_numpy()[lorder]
        rchunks, rn = _stack_chunks(gr["_v"].to_numpy(), rorder, stack_rows)
        ltags = gl["_r"].to_numpy()[lorder] if tagged_arms else None
        rtags = gr["_r"].to_numpy()[rorder] if tagged_arms else None
        mr = len(rids)
        # sentinel for masked cells: far below any cos_q (|q| <= 1e6)
        # and NEGATION-SAFE — np.iinfo(int64).min wraps to itself
        # under negation, which would sort masked cells FIRST in the
        # argsort(-q) top-k and crowd out real candidates
        imin = -(1 << 62)
        ch = stack_rows
        la, lb, ls = [], [], []
        block = max(1, _GEMM_BLOCK_ELEMS // min(mr, ch))
        for i0 in range(0, len(lids), block):
            i1 = min(i0 + block, len(lids))
            L = np.stack(tuple(lvs[i0:i1])).astype(np.float64)
            ln = np.sqrt(np.einsum("ij,ij->i", L, L))
            blk = i1 - i0
            # running ROW-wise top-k across R chunks (row-major
            # emission order inside a chunk is free; SELECTION must
            # match the whole-R stable argsort — _merge_row_topk)
            run_v = run_i = None
            if topk is not None:
                if quantize == "round6":
                    run_v = np.empty((blk, 0), np.float64)
                else:
                    run_v = np.empty((blk, 0), np.int64)
                run_i = np.empty((blk, 0), np.int64)
            for cj, Rc in enumerate(rchunks):
                c0 = cj * ch
                c1 = c0 + len(Rc)
                raw = (L @ Rc.astype(np.float64).T) / np.outer(
                    ln, rn[c0:c1]
                )
                if quantize == "round6":
                    vals = np.round(raw, 6)
                    mask = np.ones(raw.shape, dtype=bool)
                    if tagged_arms:
                        ta = ltags[i0:i1][:, None]
                        tc = rtags[c0:c1][None, :]
                        mask &= (ta < tc) | ((ta == 0) & (tc == 0))
                    if require_lt:
                        mask &= lids[i0:i1][:, None] < rids[c0:c1][None, :]
                    if exclude_eq:
                        mask &= lids[i0:i1][:, None] != rids[c0:c1][None, :]
                    if threshold is not None:
                        mask &= vals >= threshold
                    if topk is None:
                        rows, cols = np.nonzero(mask)
                        la.append(lids[rows + i0])
                        lb.append(rids[cols + c0])
                        ls.append(vals[rows, cols])
                        continue
                    # round6 ROW-wise partial top-k (the ANN serving
                    # shape): rows are the probe arm; columns are
                    # id-sorted, so the stable argsort on -vals breaks
                    # rounded-score ties on ascending neighbor id —
                    # matching the downstream rank window's tie rule,
                    # which is what makes each block's row top-k
                    # contain every global-top-k member present in
                    # the block.
                    vals = np.where(mask, vals, -np.inf)
                    kk = min(topk, vals.shape[1])
                    ridx = np.argsort(-vals, axis=1, kind="stable")[:, :kk]
                    run_v, run_i = _merge_row_topk(
                        run_v,
                        run_i,
                        np.take_along_axis(vals, ridx, axis=1),
                        rids[c0:c1][ridx],
                        topk,
                    )
                    continue
                q = np.floor(raw * 1e6 + 0.5).astype(np.int64)
                if tagged_arms:
                    ta = ltags[i0:i1][:, None]
                    tc = rtags[c0:c1][None, :]
                    q[~((ta < tc) | ((ta == 0) & (tc == 0)))] = imin
                if require_lt:
                    q[~(lids[i0:i1][:, None] < rids[c0:c1][None, :])] = imin
                if topk is None:
                    rows, cols = np.nonzero(q != imin)
                    la.append(lids[rows + i0])
                    lb.append(rids[cols + c0])
                    ls.append(q[rows, cols])
                    continue
                # map-side partial top-k (the cosine_topk_arrow
                # pattern, applied per bucket): the margin tail only
                # ever consumes each side's global top-k, and a pair
                # in a side's global top-k is in that side's top-k of
                # EVERY block where it appears (fewer than k
                # candidates beat it anywhere), so emitting per-block
                # row-wise + column-wise top-k unions is a superset
                # of both true top-k sets — margin output is exactly
                # preserved while emitted volume drops from
                # candidate-quadratic to rows x k.  ROW-wise top-k
                # merges across R chunks (selection identical to the
                # whole-R argsort — _merge_row_topk); COLUMN-wise
                # top-k emits per (row-block, chunk): each column
                # lives in exactly one chunk, so its per-block top-k
                # is computed over the same row set either way.
                kk = min(topk, q.shape[1])
                ridx = np.argsort(-q, axis=1, kind="stable")[:, :kk]
                run_v, run_i = _merge_row_topk(
                    run_v,
                    run_i,
                    np.take_along_axis(q, ridx, axis=1),
                    rids[c0:c1][ridx],
                    topk,
                )
                kk = min(topk, q.shape[0])
                cidx = np.argsort(-q, axis=0, kind="stable")[:kk, :]
                ccol = np.tile(np.arange(q.shape[1]), kk)
                crow = cidx.reshape(-1)
                ckeep = q[crow, ccol] != imin
                la.append(lids[crow[ckeep] + i0])
                lb.append(rids[ccol[ckeep] + c0])
                ls.append(q[crow[ckeep], ccol[ckeep]])
            if topk is not None:
                # emit the block's merged row-wise top-k
                if quantize == "round6":
                    keep = np.isfinite(run_v)
                else:
                    keep = run_v != imin
                rrow, rcol = np.nonzero(keep)
                la.append(lids[rrow + i0])
                lb.append(run_i[rrow, rcol])
                ls.append(run_v[rrow, rcol])
        ida = np.concatenate(la) if la else np.array([], dtype=np.int64)
        if not len(ida):
            return None
        return pd.DataFrame(
            {
                out_left: ida,
                out_right: np.concatenate(lb),
                score_col: np.concatenate(ls),
            }
        )

    def _score(batches):
        import pandas as pd

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            tid = pdf["table_id"].to_numpy()
            sg = pdf["sig"].to_numpy()
            starts = (
                np.concatenate(
                    [
                        [0],
                        np.flatnonzero(
                            (tid[1:] != tid[:-1]) | (sg[1:] != sg[:-1])
                        )
                        + 1,
                    ]
                )
                if len(pdf) > 1
                else np.array([0])
            )
            # the final group may continue into the next Arrow batch
            carry = pdf.iloc[starts[-1] :]
            for s, e in zip(starts[:-1], starts[1:]):
                out = _score_group(pdf.iloc[s:e])
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = _score_group(carry)
            if out is not None:
                yield out

    if symmetric_probe_planes is None:
        return tagged.mapInPandas(_score, schema=out_schema)

    f = local_probe_bits

    def _score_local(batches):
        import pandas as pd

        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        # ADVICE r18: the partition — not the bucket — is the
        # coarsest materialized unit on this path; make that contract
        # observable before any expansion work happens
        _warn_oversized_local_partition(len(pdf))
        sig = pdf["sig"].to_numpy()
        tid = pdf["table_id"].to_numpy()
        hfv = pdf["_hf"].to_numpy().astype(np.int64)
        base = np.flatnonzero(hfv < 0)
        high = np.flatnonzero(hfv >= 0)
        # expand: base copy -> tag 0 + the f partition-local flips;
        # high-flip copy p -> tag p+1 only.  Same probe-row multiset
        # per bucket as hamming1_probes_tagged for every f.
        idxs = [base]
        sigs_ = [sig[base]]
        tags = [np.zeros(len(base), np.int64)]
        for p in range(f):
            idxs.append(base)
            sigs_.append(sig[base] ^ np.int64(1 << p))
            tags.append(np.full(len(base), p + 1, np.int64))
        if len(high):
            idxs.append(high)
            sigs_.append(sig[high] ^ (np.int64(1) << hfv[high]))
            tags.append(hfv[high] + 1)
        ridx = np.concatenate(idxs)
        esig = np.concatenate(sigs_)
        etag = np.concatenate(tags)
        etid = tid[ridx]
        order = np.lexsort((esig, etid))
        ridx, esig, etag, etid = (
            ridx[order], esig[order], etag[order], etid[order],
        )
        bounds = np.flatnonzero(
            (etid[1:] != etid[:-1]) | (esig[1:] != esig[:-1])
        ) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(ridx)]])
        ids = pdf["_id"].to_numpy()
        vs = pdf["_v"].to_numpy()
        sides = pdf["_side"].to_numpy() if "_side" in pdf.columns else None
        for s, e in zip(starts, ends):
            sel = ridx[s:e]
            g = pd.DataFrame({"_id": ids[sel], "_v": vs[sel]})
            g["_r"] = etag[s:e]
            if sides is not None:
                g["_side"] = sides[sel]
            out = _score_group(g)
            if out is not None:
                yield out

    return tagged.mapInPandas(_score_local, schema=out_schema)


def cosine_neardup_lsh_verified(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    probe_bits: int = 0,
    probes: DataFrame | None = None,
    assume_prefix_probes: bool = False,
) -> DataFrame:
    """Two-stage embedding near-dup: sign-LSH bucket candidates ->
    exact cosine verify.  THE scale path for embedding all-pairs —
    the registered catalog form; :func:`cosine_neardup_pairs` (exact
    triangular self-join) is the sf0.01 verify stage only.

    - Candidates: per-table self-equi-join on (table_id, signature).
      Linear shuffle in |corpus| x n_tables; the only quadratic term
      is within a bucket, and buckets hold ~n/2^n_planes vectors.
    - Verify: join the (small) candidate pair list back to the vector
      column and compute the exact cosine — same contract as the
      two-stage Jaccard operator (dedup.lsh_verified_pairs).

    Approximation contract: a pair at angle theta collides in one
    table with probability (1 - theta/pi)^n_planes; n_tables union
    their candidates, so recall = 1 - (1 - p)^n_tables.  With
    ``probe_bits=1`` (Hamming-1 multiprobe) the per-table rate rises
    to P(at most one disagreeing plane) = p1^b + b*p1^(b-1)*(1-p1) —
    see :func:`lsh_tables_by_planes` for the table-count rule that
    holds a recall target across the self-sizing plane range.  At the
    defaults (4 planes, 8 tables) pairs at cos >= 0.45 are examined
    with probability ~0.79 and true near-dups (cos >= 0.9) with
    ~0.9999.  Deterministic md5-derived hyperplanes => the full
    mechanics are oracle-checkable, not just row counts.

    Capacity contract (measured, scripts/scale_curve.py): bucket
    occupancy per table is ~n / 2^n_planes, and within-bucket pairs
    are the operator's only quadratic term — so ``n_planes`` must
    follow log2(n) as the corpus grows (4 planes at 2k vectors -> 8
    at 20k keeps occupancy flat; measured 4.1x wall-time for 10x
    data vs 71x when the plane count is left at the small-corpus
    default).  Like streaming state-store partitioning, this is a
    capacity decision sized to the data, never inherited.  Recall
    lost per table at higher planes is bought back with ``n_tables``.

    ``probe_bits=2`` (r17, VERDICT r16 #1 — engages via
    :func:`lsh_adaptive_plan` exactly where Hamming-1's table need
    exceeds the clamp) widens coverage to pairs disagreeing on at
    most TWO hyperplanes per table.  Physical strategy is
    size-adaptive, the same logical candidate set either way:

    - ``probes=None`` (the full self-mining form): radius-1 explode
      of the ONE corpus arm — two sigs at Hamming distance 2 meet in
      the bucket where each flipped one differing bit — for
      (1+b)-fold fan-out instead of the one-sided 1 + b + C(b,2),
      then per-bucket GEMM over the arm's strict upper triangle
      (:func:`lsh_bucket_gemm_scored`).  Bytes through the single
      (table, sig) exchange are LOWER than the clamped Hamming-1
      config it replaces when the derived table count drops (200k
      vectors: T 32 -> 20, fan-out 14x either way).
    - ``probes`` given (a small subset of the corpus — the audit /
      targeted-mining form): the probe arm explodes to radius 2
      (:func:`hamming2_probes`) and the corpus arm stays unexploded;
      pairs emit as (id_a in probes) < id_b.  Same per-table
      Hamming-<=2 coverage, bytes proportional to the probe count.

    ``probes`` requires ``probe_bits=2`` — at lower radii the output
    already restricts by a pushed-down filter, no dedicated arm
    needed.

    PRECONDITION on the probes form (ADVICE r17): pairs emit with the
    probe arm on the LEFT under ``require_lt``, so a pair (c, p) with
    c < p where c is in the corpus but NOT in the probe set is
    dropped from both orientations.  The form is therefore correct
    only for PREFIX-style probe subsets (every corpus id below
    max(probe ids) is itself a probe — e.g. ``vec_id < N``) or for
    probes == corpus; both current callers
    (scripts/r17_neardup_scale.py's per-decade audits and the
    probes-form-equals-self-form pytest) satisfy it.  An arbitrary
    probe subset needs both orientations emitted and canonicalized —
    extend the kernel call before reusing this form for general
    targeted mining.

    ENFORCED since r19 (ADVICE r18 — docstring-only preconditions
    silently lose pairs): the probes form counts corpus ids at or
    below max(probe id) and requires at least that many probes (three
    aggregations over single narrow columns — trivial next to the
    mining job).  ``assume_prefix_probes=True`` skips the check for
    callers that guarantee the precondition by construction (the
    decade audit scripts, whose probe strata are literal id
    prefixes).
    """
    if probes is not None and probe_bits != 2:
        raise ValueError("probes subset form requires probe_bits=2")
    if probes is not None and not assume_prefix_probes:
        mx = probes.agg(F.max(F.col(id_col))).first()[0]
        if mx is not None:
            n_probes = probes.count()
            n_below = corpus.filter(F.col(id_col) <= mx).count()
            if n_probes < n_below:
                raise ValueError(
                    "probes form precondition violated: the corpus"
                    f" holds {n_below} ids <= max(probe id) = {mx} but"
                    f" only {n_probes} probes were passed — a"
                    " non-prefix probe subset drops (corpus_id <"
                    " probe_id) pairs from both orientations.  Pass a"
                    " prefix-style subset (every corpus id below the"
                    " probe max is itself a probe), or"
                    " assume_prefix_probes=True if the caller"
                    " guarantees it by construction"
                )
    if probe_bits == 2:
        sigs = lsh_signatures(
            corpus, id_col, "id", vec_col, n_planes, n_tables, dim
        )
        # vectors ride the exchange AT STORAGE TYPE (float32 halves
        # the fan-out byte term); the GEMM kernel upcasts — exact
        v = corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("_v")
        )
        corpus_arm = sigs.join(v, "id").withColumnRenamed("id", "_id")
        if probes is None:
            # symmetric radius-1 with flip-origin tags, exploded
            # IN-KERNEL via the partition-local multiprobe transport
            # (r18): only the high-bit flips ship through the
            # (table, sig >> f) exchange; the canonical tag rule still
            # emits each surviving pair once per table
            f = lsh_local_probe_split(
                n_planes,
                n_tables,
                lsh_exchange_parallelism(corpus.sparkSession),
            )
            pairs = lsh_bucket_gemm_scored(
                corpus_arm, None, "id_a", "id_b",
                quantize="round6", threshold=threshold, require_lt=True,
                symmetric_probe_planes=n_planes, local_probe_bits=f,
            )
        else:
            psigs = lsh_signatures(
                probes, id_col, "pid", vec_col, n_planes, n_tables, dim
            )
            pv = probes.select(
                F.col(id_col).alias("pid"), F.col(vec_col).alias("_v")
            )
            probe_arm = hamming2_probes(
                psigs.join(pv, "pid").withColumnRenamed("pid", "_id"),
                n_planes,
            )
            pairs = lsh_bucket_gemm_scored(
                probe_arm, corpus_arm, "id_a", "id_b",
                quantize="round6", threshold=threshold, require_lt=True,
            )
        # Dedupe BY PAIR, not by triple: GEMM summation order varies
        # with the bucket's block shape, so a cross-bucket duplicate
        # of one pair can differ in the last ulp — distinct on the
        # quantized triple would keep both rows if that ulp ever
        # crossed a round-6 boundary (~1e-9 of pairs).  max() pins
        # multiplicity to exactly 1 regardless; the residual
        # value-vs-oracle exposure at the boundary is the accepted
        # cosine_topk_arrow quantization class.
        return pairs.groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))
    # Signatures via the shared one-matmul Arrow kernel
    # (:func:`lsh_signatures`, VERDICT r15 #4): map-only, no plane
    # join, no groupBy shuffle.  The r16 stage decomposition at sf1
    # (20k vectors, b=10, T=27, Hamming-1) re-attributed the tier's
    # cost: signatures are 2.9 s with this kernel — the real wall was
    # CANDIDATE MATERIALIZATION: 70M raw -> 56M distinct pairs
    # shuffled (69 s), re-joined to vectors, then 56M wide rows
    # through the Arrow boundary for a numpy verify.  So the verify
    # is now PIPELINED AT THE BUCKET JOIN: vectors+norms attach to
    # the signature rows BEFORE the (table, sig) join, the cosine is
    # computed JVM-side inside the same whole-stage-codegen pass as
    # the join output (never materialized), the threshold filters
    # 70M candidates down to the true-pair set (~16k at sf1), and
    # distinct dedups only the SURVIVORS across tables/probes.
    # Shuffle volume: one (table, sig) exchange of n x T (+probe
    # fan-out) signature rows with vectors attached — no 56M-row
    # distinct, no per-pair Arrow transfer, no Python in the verify.
    sigs = lsh_signatures(
        corpus, id_col, "id", vec_col, n_planes, n_tables, dim
    )
    # Materialize the (id, table, sig) table once — it's 3 narrow
    # columns x n_tables*|corpus| rows.  Without this, the self-join
    # recomputes the signature pass for BOTH sides (measured ~1s
    # slower warm AND colder one-shot).
    sigs = materialize(sigs)
    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    v = corpus.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    sigs_v = sigs.join(v, "id")
    corpus_side = sigs_v.select(
        F.col("id").alias("id_b"), "table_id", "sig",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    probe_base = sigs_v.select(
        F.col("id").alias("id_a"), "table_id", "sig",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    if probe_bits:
        # Hamming-1 multiprobe: the probe side also visits the
        # n_planes adjacent buckets (one sign bit flipped).  One-sided
        # probing suffices — sig_b within Hamming-1 of sig_a is a
        # symmetric relation and the id_a < id_b filter keeps each
        # pair once.  This buys a b-fold per-table recall amplifier
        # for CANDIDATE volume only: the signature pass is untouched,
        # where buying the same recall with tables multiplies it.
        probe_side = hamming1_probes(probe_base, n_planes)
    else:
        probe_side = probe_base
    # The fold-based dot (zip_with + aggregate, left-to-right float64
    # sum — same order as the DuckDB oracle) measured 37 s for the
    # whole sf1 arm; an unrolled 64-term getItem chain was tried and
    # REGRESSED to 150 s (the giant expression falls out of
    # whole-stage codegen), so the fold stays.
    sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        6,
    )
    return (
        probe_side.join(corpus_side, ["table_id", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        # sim is deterministic per pair (round-6 sequential sum), so
        # the distinct over survivors keeps each pair exactly once
        .distinct()
    )


def lsh_planes_for(
    n: int,
    target_occupancy: int,
    min_planes: int = 2,
    max_planes: int = 16,
) -> int:
    """Plane count for a TARGET BUCKET OCCUPANCY — the sizing API the
    raw plane constant lacked (VERDICT r13 #1: with a fixed plane
    count, expected per-table occupancy n/2^planes grows linearly
    with the corpus and the within-bucket pair term goes quadratic —
    the real sf1 run measured 48x wall-time for 10x data at the
    pinned 4 planes).

    Returns the smallest plane count ``b`` in ``[min_planes,
    max_planes]`` with ``2^b * target_occupancy >= n`` — i.e. expected
    occupancy ``n / 2^b`` at most ``target_occupancy`` — so the
    quadratic-in-occupancy verify term stays CONSTANT per bucket as
    the corpus grows (planes follow log2(n)).  Clamps to
    ``max_planes`` beyond ``2^max_planes * target_occupancy`` rows —
    the oracle-replay ceiling, since the SQL replay inlines
    ``max_planes`` hyperplanes per table and masks down.

    Pure integer arithmetic (no log2 floats), so an external engine
    replays the derivation exactly: mirrors the
    ``mg_capacity(MG_MIN_SUPPORT)`` self-sizing pattern — occupancy
    is a property of the budget, capacity follows from it and the
    observed corpus count, never inherited from a smaller run.
    """
    if target_occupancy <= 0:
        raise ValueError(f"target_occupancy must be > 0, got {target_occupancy}")
    if not (0 < min_planes <= max_planes <= 62):
        raise ValueError(f"bad plane bounds [{min_planes}, {max_planes}]")
    for b in range(min_planes, max_planes + 1):
        if (1 << b) * target_occupancy >= n:
            return b
    # Clamp bound (ADVICE r14, deferred twice — now a SIGNAL, not a
    # docstring): past 2^max_planes * occupancy rows the occupancy
    # budget is silently exceeded and grows linearly again — the
    # operator still runs, but the within-bucket quadratic term the
    # budget existed to bound is back.  The fix is lifting the
    # oracle-replay ceiling (widen max_planes; the plane family is
    # prefix-stable, so widening only changes oracle text).
    import warnings

    warnings.warn(
        f"lsh_planes_for: clamped at max_planes={max_planes} — corpus "
        f"n={n} exceeds 2^{max_planes} * occupancy {target_occupancy} "
        f"= {(1 << max_planes) * target_occupancy}; expected bucket "
        f"occupancy {n / (1 << max_planes):.0f} exceeds the budget. "
        "Widen max_planes (the oracle-replay ceiling) to restore it.",
        RuntimeWarning,
        stacklevel=2,
    )
    return max_planes


def n_tables_for(
    target_recall_pct: int,
    table_hit_pct: int,
    t_min: int = 1,
    t_max: int = 64,
) -> int:
    """Table count for a TARGET UNION RECALL — the sizing rule the raw
    table constant lacked (VERDICT r14 #4): independent LSH tables
    recall a true pair with union probability ``1 - (1 - p)^T``, so
    the smallest table count meeting a declared recall target is
    ``T = ceil(ln(1 - target) / ln(1 - p))``.  The r14 buy-back run
    measured the curve at sf0.1's derived 6 planes — 42% -> 70% ->
    87% recall at T = 8 -> 16 -> 24 — tracking the union rule at
    p ~= 7%/table to within a few points, so ``table_hit_pct`` is an
    AUDITED constant (re-read it off ``neardup_lsh_recall_audit``
    after any plane-family change), not folklore.

    Pure integer arithmetic (no log floats): returns the smallest
    ``T`` in ``[t_min, t_max]`` with
    ``(100 - p)^T <= (100 - target) * 100^(T-1)`` — exactly the union
    inequality with both sides scaled by ``100^T``, evaluated in
    exact bigints — so an external engine (or a reviewer) replays the
    derivation without float-rounding hazards.  Clamps to ``t_max``:
    candidate volume (hence cost) grows linearly in T while recall
    approaches 1 only geometrically, so past the clamp the right
    lever is more planes-per-table quality, not more tables.
    """
    if not (0 < table_hit_pct <= 100):
        raise ValueError(f"table_hit_pct must be in (0, 100], got {table_hit_pct}")
    if not (0 <= target_recall_pct <= 100):
        raise ValueError(f"target_recall_pct must be in [0, 100], got {target_recall_pct}")
    if not (0 < t_min <= t_max):
        raise ValueError(f"bad table bounds [{t_min}, {t_max}]")
    miss, residual = 100 - table_hit_pct, 100 - target_recall_pct
    for t in range(t_min, t_max + 1):
        if miss**t <= residual * 100 ** (t - 1):
            return t
    return t_max


def deterministic_planes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Reproducible pseudo-random hyperplanes: component (p, d) is
    ``md5("{table}|{p}|{d}")``'s first 8 hex chars scaled to [-1, 1).
    Computed driver-side with hashlib (md5 is md5 everywhere), so the
    exact same constants can be embedded in an external oracle.
    Memoized (catalog import asks for the same few families hundreds
    of times); each call returns fresh lists."""
    return [list(row) for row in _planes(n_planes, dim, table)]


@functools.lru_cache(maxsize=128, typed=True)
def _planes(n_planes: int, dim: int, table: int) -> tuple[tuple[float, ...], ...]:
    import hashlib

    def comp(p: int, d: int) -> float:
        h = hashlib.md5(f"{table}|{p}|{d}".encode()).hexdigest()[:8]
        return int(h, 16) / float(16**8) * 2.0 - 1.0

    return tuple(tuple(comp(p, d) for d in range(dim)) for p in range(n_planes))


def lsh_bucketed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 2,
    dim: int = 64,
    strategy: str = "broadcast",
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH bucket join + exact re-rank.

    Multiple tables union their candidate sets (recall booster); the
    candidate join is an equi-join on (table, signature) — linear in
    corpus size, no cross join anywhere.  Output contract matches
    :func:`cosine_topk`; recall vs the exact baseline is a test
    property, not a constant.

    TWO physical strategies, output-identical (modulo the accepted
    cosine_topk_arrow round-6 ulp class), each optimal in its regime
    — measured, r18, not guessed: the naive "GEMM everywhere" port
    regressed the 10-probe serving entry 1.7x at sf0.1 because it
    moved the whole vector-carrying corpus arm through an exchange to
    score a probe-bounded candidate set:

    - ``strategy="broadcast"`` (default — the SERVING regime, probe
      count << corpus): probe signatures broadcast against the
      corpus's signature stream, candidate IDs collapse via distinct,
      vectors re-attach through two broadcast joins, and the JVM fold
      scores |candidates| ~= |probes| x T x occupancy dots.  The
      corpus NEVER shuffles; per-query cost is constant in corpus
      size.  The fold is never the wall here because candidates are
      probe-bounded by construction.
    - ``strategy="gemm"`` (the BATCH regime, probe count ~ corpus —
      k-NN graph builds, all-corpus re-ranking): at batch scale the
      probe signature set no longer broadcasts and the per-candidate
      fold becomes the measured CPU wall (the r16 bitext numbers:
      ~10 us per candidate-core).  Vectors ride the single
      (table, sig) hash exchange AT STORAGE TYPE attached to the
      signature rows, each bucket's block is a numpy matmul over
      BOUNDED float64 tiles (:func:`lsh_bucket_gemm_scored`; since
      r19 a degenerate bucket degrades to several GEMM calls instead
      of one whole-group stack — _GEMM_STACK_CHUNK_ROWS), and only
      each block's per-query ROW-wise top-k survives the Arrow
      boundary — emitted volume (probe-bucket-rows x k), never
      candidate-quadratic.

    Output preservation of the gemm strategy (the broadcast shape is
    what the DuckDB oracle replays): a neighbor in a query's TRUE
    global top-k — ordered by (round6 sim DESC, neighbor_id ASC) over
    the distinct candidate union — is beaten by fewer than k
    candidates globally, hence by fewer than k inside any single
    bucket block where the pair appears (a bucket's candidates are
    distinct neighbors; blocks span full bucket columns), so with the
    kernel's matching tie-break it survives every block's row top-k
    and the union is a SUPERSET of the true top-k set; the final rank
    window reproduces the exact ranking over that superset.
    Cross-bucket duplicates dedupe BY PAIR with max(sim) before
    ranking (the near-dup miner's ulp-boundary guard), and self pairs
    are masked IN-KERNEL (``exclude_eq`` — a post-hoc filter would
    let the cos=1 self pair crowd a real candidate out of a block
    top-k where the broadcast shape excludes it before scoring).
    """
    if strategy not in ("broadcast", "gemm"):
        raise ValueError(f"strategy must be broadcast|gemm, got {strategy!r}")
    # Signatures via the shared one-matmul Arrow kernel
    # (:func:`lsh_signatures`, VERDICT r15 #4): one BLAS call per
    # batch emits all tables' signatures — no plane join, no groupBy
    # shuffle, no n_tables x n_planes literal codegen (the previous
    # strategies' measured costs).
    def sigs(df: DataFrame, role: str) -> DataFrame:
        return lsh_signatures(
            df, id_col, f"{role}_id", vec_col, n_planes, n_tables, dim
        )

    if strategy == "gemm":
        def arm(df: DataFrame, role: str) -> DataFrame:
            # vectors ride the exchange at storage type (float32
            # halves the byte term); the GEMM kernel upcasts — exact
            v = df.select(
                F.col(id_col).alias(f"{role}_id"),
                F.col(vec_col).alias("_v"),
            )
            return sigs(df, role).join(v, f"{role}_id").withColumnRenamed(
                f"{role}_id", "_id"
            )

        pairs = lsh_bucket_gemm_scored(
            arm(probes, "query"),
            arm(corpus, "neighbor"),
            "query_id",
            "neighbor_id",
            quantize="round6",
            topk=k,
            exclude_eq=True,
        )
        scored = pairs.groupBy("query_id", "neighbor_id").agg(
            F.max("sim").alias("sim")
        )
    else:
        # Candidate IDs only — scoring the join output directly would
        # shuffle and compare every candidate's two 64-dim arrays; id
        # pairs shuffle 16 bytes and the vectors are re-attached
        # after dedup.
        cand = (
            sigs(corpus, "neighbor")
            .join(F.broadcast(sigs(probes, "query")), ["table_id", "sig"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        # Candidates are bounded by |probes| x bucket occupancy —
        # small by the probe-side contract (same argument as
        # cosine_topk's probe collect at similarity.py:214) — so they
        # broadcast against the corpus: vector re-attachment costs
        # one corpus scan, no shuffle.
        qv = probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_queryv"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
        nv = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_neighborv"),
            l2_norm(F.col(vec_col)).alias("_nn"),
        )
        scored = (
            nv.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .withColumn(
                "sim",
                F.round(
                    dot(F.col("_queryv"), F.col("_neighborv"))
                    / (F.col("_qn") * F.col("_nn")),
                    6,
                ),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def _margin_from_scored(
    scored: DataFrame, k: int, margin_threshold: float
) -> DataFrame:
    """Shared margin-scoring tail over a (src_id, tgt_id, cos_q)
    candidate frame: per-direction rank + k-NN sum windows (one
    shuffle each — rank and sum share the partition), mutual-k-NN
    filter, ratio margin.  ``cos_q`` must be the integer-quantized
    cosine; every downstream step is then exact integer arithmetic
    except the final two-step double margin, which the SQL oracles
    replay operation-for-operation."""
    w_x = Window.partitionBy("src_id").orderBy(
        F.col("cos_q").desc(), F.col("tgt_id").asc()
    )
    w_y = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_q").desc(), F.col("src_id").asc()
    )
    ranked = (
        scored.withColumn("rank_x", F.row_number().over(w_x))
        .withColumn(
            "sum_x",
            F.sum(F.when(F.col("rank_x") <= k, F.col("cos_q"))).over(
                Window.partitionBy("src_id")
            ),
        )
        .withColumn(
            "cnt_x",
            F.sum(F.when(F.col("rank_x") <= k, F.lit(1))).over(
                Window.partitionBy("src_id")
            ),
        )
        .withColumn("rank_y", F.row_number().over(w_y))
        .withColumn(
            "sum_y",
            F.sum(F.when(F.col("rank_y") <= k, F.col("cos_q"))).over(
                Window.partitionBy("tgt_id")
            ),
        )
        .withColumn(
            "cnt_y",
            F.sum(F.when(F.col("rank_y") <= k, F.lit(1))).over(
                Window.partitionBy("tgt_id")
            ),
        )
    )
    margin = F.round(
        F.lit(2.0)
        * F.col("cos_q")
        / (
            F.col("sum_x") * F.lit(1.0) / F.col("cnt_x")
            + F.col("sum_y") * F.lit(1.0) / F.col("cnt_y")
        ),
        6,
    )
    return (
        ranked.filter((F.col("rank_x") <= k) & (F.col("rank_y") <= k))
        .withColumn("margin", margin)
        .filter(F.col("margin") > margin_threshold)
        .select("src_id", "tgt_id", "cos_q", "margin")
    )


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    margin_threshold: float = 1.05,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    LASER / CCMatrix parallel-corpus alignment rule): candidate pairs
    are the MUTUAL k-NN between two embedding corpora, scored by the
    ratio margin

        margin(x, y) = cos(x, y) / ((mean_kNN(x->tgt) + mean_kNN(y->src)) / 2)

    which normalizes away hubness — a vector that is "close to
    everything" has a high k-NN mean, so its raw-cosine matches stop
    outranking genuinely aligned pairs.

    Engine-exactness: cosines are integer-quantized up front
    (``cos_q = floor(cos * 1e6 + 0.5)`` as BIGINT), so ranking,
    mutual-k-NN membership, and the k-NN SUMS are exact integer
    arithmetic — immune to float summation order across partitions —
    and the margin itself is a fixed two-step double expression over
    those integers, replayed operation-for-operation by the SQL
    oracle (see :func:`_margin_from_scored`).

    Plan shape: one broadcast cross-score of the two sides (the same
    deliberate BNLJ fan-out as :func:`cosine_topk`), then ONE window
    shuffle per direction.  This exact all-pairs form is the verify
    tier — quadratic in corpus size, excluded from the bench scale
    paths like the other exact all-pairs operators;
    :func:`margin_bitext_pairs_cells` is the candidate-bounded 100 TB
    shape with the identical scoring tail.
    """
    s = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("_sv"),
        l2_norm(F.col(vec_col)).alias("_sn"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("_tv"),
        l2_norm(F.col(vec_col)).alias("_tn"),
    )
    cos = dot(F.col("_sv"), F.col("_tv")) / (F.col("_sn") * F.col("_tn"))
    scored = (
        s.crossJoin(F.broadcast(t))
        .withColumn(
            "cos_q",
            F.floor(cos * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
        .select("src_id", "tgt_id", "cos_q")
    )
    return _margin_from_scored(scored, k, margin_threshold)


def margin_bitext_pairs_cells(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    k: int = 4,
    margin_threshold: float = 1.05,
) -> DataFrame:
    """The candidate-bounded scale shape of :func:`margin_bitext_pairs`
    — the IVF posture applied to bitext mining: both corpora carry a
    quantizer cell id (here a label column; at 100 TB the learned
    k-means/IVF cell, with the corpora physically partitioned by it),
    candidate pairs are the SAME-CELL equi-join — a plain shuffle
    join, NEITHER side broadcast, volume bounded by per-cell
    occupancy — and the identical rank/sum/margin windows run over
    the candidates.  k-NN means are then within-cell means, the
    standard IVF approximation (recall tunable by cell size /
    multi-assignment, auditable exactly like `ann_recall_audit`).
    """
    s = src.select(
        F.col(id_col).alias("src_id"),
        F.col(cell_col).alias("_cell"),
        F.col(vec_col).alias("_sv"),
        l2_norm(F.col(vec_col)).alias("_sn"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(cell_col).alias("_cell"),
        F.col(vec_col).alias("_tv"),
        l2_norm(F.col(vec_col)).alias("_tn"),
    )
    cos = dot(F.col("_sv"), F.col("_tv")) / (F.col("_sn") * F.col("_tn"))
    scored = (
        s.join(t, "_cell")
        .withColumn(
            "cos_q",
            F.floor(cos * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
        .select("src_id", "tgt_id", "cos_q")
    )
    return _margin_from_scored(scored, k, margin_threshold)


def margin_bitext_pairs_lsh(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    margin_threshold: float = 1.05,
    n_planes: int = 6,
    n_tables: int = 7,
    dim: int = 64,
    probe_bits: int = 1,
) -> DataFrame:
    """Margin bitext mining over SIGN-LSH multiprobe candidates — the
    r15 decomposition's answer to the kmeans-cells tier's coverage
    wall (PERF.md r15 finding 8).

    The cells tier's recall loss at scale is ENTIRELY candidate
    coverage: the target's single k-means cell falls outside the
    source's probe list for ~75% of exact pairs at sf0.4 and the
    coverage SATURATES in nprobe (978 -> 1064 of 4329 covered pairs
    going from 8 to 32 probes), because at pair similarity ~0.5 in 64
    dimensions distance-to-centroid rankings decorrelate — coarse
    cells carry almost no co-location signal for moderately-similar
    pairs.  Sign-LSH buckets do: a pair at angle theta collides per
    table with probability (1 - theta/pi)^b BY CONSTRUCTION, so
    coverage is a direct, tunable function of the similarity the
    miner targets (the same contract the near-dup tier's multiprobe
    machinery just validated at two decades — 90/93.4% recall at
    sf0.1/sf1).  The margin tail is reused verbatim: the same
    decomposition proved it LOSSLESS on covered pairs (every covered
    exact pair survived rank filter and margin unchanged).

    Plan shape: two signature passes (one per side, T x n rows each,
    map-side like the near-dup tier), vectors+norms attached to the
    signature rows BEFORE the bucket join, the probe-side Hamming-<=1
    explode, one cross-side equi-join per (table, sig) — never a
    cross join, neither corpus broadcast — the cosine computed inside
    the join's codegen pass, then a distinct over the SCORED triples
    (cos_q is a deterministic function of the pair, so deduping
    (src_id, tgt_id, cos_q) keeps exactly one row per pair — the same
    pair set the old candidates-first distinct produced), then the
    two margin windows.

    The scored-triples-distinct ordering is load-bearing at scale
    (r16, measured): joining vectors to the DISTINCT CANDIDATE SET
    instead — the original shape — exceeds the broadcast threshold
    past ~50k vectors per side, and the resulting sort-merge joins
    carry the 512-byte vectors through their sorts (the full
    candidate set x vector width: ~160 GB of spill at 50k/side,
    which exhausted an 80 GB local disk).  Scoring at the bucket
    join keeps vectors out of every sort except the one (table, sig)
    exchange of n x T (+probe fan-out) signature rows, and the only
    candidate-scale shuffle is the 24-byte scored-triple distinct.

    Scoring itself is the per-bucket GEMM kernel
    (:func:`lsh_bucket_gemm_scored`, r17 — VERDICT r16 #4): the r16
    shape evaluated one JVM ``aggregate(zip_with(...))`` fold PER
    CANDIDATE at the bucket join (~10 us per candidate-core — the
    measured CPU wall: 1047 s at 100k/side), where one numpy matmul
    scores a bucket's whole m_s x m_t block at memory bandwidth.
    The candidate SET is unchanged at probe_bits <= 1 (same arms,
    same buckets), so mined pairs are byte-identical to the fold
    shape; cos_q quantization (floor(cos * 1e6 + 0.5)) differs only
    in GEMM-vs-fold summation order, ~1e-16 on unit vectors — the
    cosine_topk_arrow determinism argument.

    ``probe_bits=2`` (r17, via :func:`lsh_adaptive_plan`) escalates
    coverage to Hamming-<=2 where the Hamming-1 table need exceeds
    the clamp: SYMMETRIC radius-1 explode — the target arm explodes
    its b one-bit flips too, covering distance-2 sig pairs through
    the bucket where each side flipped one differing bit — for
    (1+b)-fold fan-out per side, never the one-sided 1+b+C(b,2).
    Sizing comes from the same self-sizing rules (`lsh_planes_for`
    at an occupancy budget, `lsh_adaptive_plan` at the miner's
    design-point similarity).
    """
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    # Shared one-matmul Arrow signature kernel (VERDICT r15 #4) — one
    # pass per side, map-only, no plane join or groupBy shuffle.
    sigs_s = lsh_signatures(src, id_col, "src_id", vec_col, n_planes, n_tables, dim)
    sigs_t = lsh_signatures(tgt, id_col, "tgt_id", vec_col, n_planes, n_tables, dim)
    # vectors ride the exchange AT STORAGE TYPE (float32 halves the
    # fan-out byte term); the GEMM kernel upcasts — exact
    s = src.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("_v")
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_v")
    )
    src_arm = sigs_s.join(s, "src_id").withColumnRenamed("src_id", "_id")
    tgt_arm = sigs_t.join(t, "tgt_id").withColumnRenamed("tgt_id", "_id")
    sym_planes, local_bits = None, 0
    if probe_bits == 2:
        # symmetric radius-1 with flip-origin tags, exploded
        # IN-KERNEL via the partition-local multiprobe transport
        # (r18, the VERDICT r17 #7 wall): at 500k/side the JVM-side
        # (1+b)-fold tagged explode was headed for ~100 GB of
        # vector-carrying exchange — past the local disk; with the
        # split, only the base row and its (b-f) high-bit flips ship
        # and the f low-bit flips expand in the worker.  The
        # canonical (a, c) tag rule is unchanged: each candidate
        # pair still emits once per table.
        sym_planes = n_planes
        local_bits = lsh_local_probe_split(
            n_planes,
            n_tables,
            lsh_exchange_parallelism(src.sparkSession),
        )
    elif probe_bits == 1:
        src_arm = hamming1_probes(src_arm, n_planes)
    # Dedupe BY PAIR (max cos_q), not distinct triples: GEMM summation
    # order varies with bucket block shape, so a cross-bucket
    # duplicate can differ in its last ulp; if that ever crossed a
    # floor(1e6) boundary a triple-distinct would feed the pair TWICE
    # into the margin windows.  max() pins multiplicity to 1.
    # topk=k engages the kernel's map-side partial top-k: the margin
    # windows only consume each side's top-k, so per-block top-k
    # unions preserve the output exactly while the margin shuffle
    # stays (rows x k) instead of candidate-sized.
    scored = lsh_bucket_gemm_scored(
        src_arm, tgt_arm, "src_id", "tgt_id", quantize="floorq", topk=k,
        symmetric_probe_planes=sym_planes, local_probe_bits=local_bits,
    ).groupBy("src_id", "tgt_id").agg(F.max("cos_q").alias("cos_q"))
    return _margin_from_scored(scored, k, margin_threshold)


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    max_sim: float = 0.95,
    sim_decimals: int = 6,
) -> DataFrame:
    """Hard-negative mining for embedding-model training data (the
    DPR / SimCSE / contrastive-finetune prep step): for each probe,
    the k most-similar corpus vectors that carry a DIFFERENT label —
    the near-misses that teach the model the decision boundary —
    excluding anything at or above ``max_sim`` (those are presumed
    positives/near-duplicates, not negatives; the standard
    false-negative guard).

    Same determinism contract as :func:`cosine_topk` (rounded sims,
    id-ascending tie-break) and the same plan shape: broadcast probe
    fan-out + one corpus scan + one probe-keyed window.  This is the
    exact/verify tier; :func:`hard_negatives_cells` is the
    cell-routed 100 TB shape — hard negatives live NEAR the probe by
    construction, so cell routing loses little recall.
    """
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                sim_decimals,
            ),
        )
        .filter(F.col("sim") < max_sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_ql").alias("query_label"),
            "neighbor_id",
            F.col("_cl").alias("neighbor_label"),
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def signature_cell(vec_col: Column, dim: int, n_planes: int, table: int = 0) -> Column:
    """Sign-LSH cell id: bit ``p`` set iff ``dot(v, plane_p) >= 0``
    over :func:`deterministic_planes` — a LABEL-INDEPENDENT,
    locality-preserving quantizer (``2**n_planes`` cells).  Used where
    the class label cannot double as the IVF cell (hard-negative
    mining excludes same-label candidates, so label-cells would empty
    the candidate set); md5-derived constants keep it replayable by
    an external SQL oracle.  At 100 TB this is the cell id you
    compute ONCE at ingest and physically partition by — here it is
    an inline expression (n_planes * dim literal constants through
    one codegen'd fold per plane, no join, no shuffle).
    """
    planes = deterministic_planes(n_planes, dim, table)
    bits = [
        F.when(
            dot(vec_col, F.array(*[F.lit(c) for c in plane])) >= 0,
            F.lit(1 << p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p, plane in enumerate(planes)
    ]
    cell = bits[0]
    for b in bits[1:]:
        cell = cell + b
    return cell


def hard_negatives_cells(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    k: int = 5,
    max_sim: float = 0.95,
    nprobe: int = 2,
    n_planes: int = 3,
    sim_decimals: int = 6,
) -> DataFrame:
    """The cell-routed scale shape of :func:`hard_negatives` (the IVF
    posture, mirroring :func:`margin_bitext_pairs_cells`): candidates
    are bounded by cell routing instead of a broadcast probe fan-out,
    so an unbounded probe set never broadcasts and per-probe work is
    per-cell occupancy, not |corpus|.

    Mechanics:

    - every corpus vector carries a :func:`signature_cell` id
      (label-independent — the class label is the EXCLUSION key here,
      so unlike :func:`ivf_topk` it cannot also be the cell);
    - per-cell centroids (same rounded elementwise-mean coarse index
      as :func:`label_centroids`) route each probe to its ``nprobe``
      nearest cells;
    - candidates are the same-cell pairs via a PLAIN shuffle
      equi-join on the cell id — neither side broadcast (at 100 TB:
      corpus physically partitioned by cell => partition pruning +
      co-located join);
    - then the identical different-label filter, false-negative cap
      (``sim < max_sim``) and per-probe top-k window as the exact
      tier.

    Each corpus vector lives in exactly ONE cell, so a (probe,
    neighbor) pair joins at most once — no candidate dedup needed.
    Recall vs the exact tier is tunable via ``nprobe``/``n_planes``
    and audited by the catalog's recall-audit queries.
    """
    cell = signature_cell(F.col(vec_col), dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        cell.alias("_cell"),
    )
    # Coarse index: per-cell rounded centroids (2**n_planes rows).
    avgs = [
        F.round(F.avg(F.col("_cv").getItem(i).cast("double")), 6)
        for i in range(dim)
    ]
    cents = c.groupBy("_cell").agg(F.array(*avgs).alias("centroid"))
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    # Zero-norm guard (ADVICE r13): a zero probe vector or an all-zero
    # rounded centroid would make the cosine NULL/NaN, and NULL ordering
    # in the routing window can diverge across engines.  Such pairs get
    # a deterministic sentinel BELOW any real cosine (-2.0), so routing
    # degrades to cell-ascending order instead of engine-defined chaos;
    # the oracle replays the same CASE.
    _route_den = F.col("_qn") * l2_norm(F.col("centroid"))
    routed = p.crossJoin(F.broadcast(cents)).withColumn(
        "_csim",
        F.when(
            _route_den > 0,
            F.round(dot(F.col("_qv"), F.col("centroid")) / _route_den, 6),
        ).otherwise(F.lit(-2.0)),
    )
    w_route = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("_cell").asc()
    )
    probe_cells = (
        routed.withColumn("_r", F.row_number().over(w_route))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_ql", "_qv", "_qn", "_cell")
    )
    scored = (
        c.join(probe_cells, "_cell")  # plain shuffle equi-join, no broadcast
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                sim_decimals,
            ),
        )
        .filter(F.col("sim") < max_sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_ql").alias("query_label"),
            "neighbor_id",
            F.col("_cl").alias("neighbor_label"),
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )


def hard_negatives_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    k: int = 5,
    max_sim: float = 0.95,
    n_planes: int = 5,
    n_tables: int = 4,
    probe_bits: int = 1,
    sim_decimals: int = 6,
) -> DataFrame:
    """Hard-negative mining over sign-LSH MULTIPROBE candidates — the
    Hamming-1 machinery (VERDICT r15 #3) extended from the near-dup
    and bitext miners to the hard-negative tier.

    The cell-routed tier (:func:`hard_negatives_cells`) routes probes
    by CENTROID similarity over single-table sign-LSH cells — an IVF
    posture whose per-probe coverage is nprobe cells chosen by a
    geometry the hyperplane partition doesn't actually encode (cell
    centroids of hyperplane regions are arbitrary, and the routing
    decorrelates from pair angle exactly like the bitext k-means cells
    did, PERF.md r15 finding 8).  Here the candidate generator is the
    validated multi-table multiprobe family instead: per-table hit
    probability for a pair at angle theta is a DIRECT function of that
    angle (p1^b with p1 = 1 - theta/pi, amplified b-fold by Hamming-1
    probing), and the table count derives per plane count from the
    declared recall target (:func:`lsh_tables_by_planes` at the
    miner's design-point similarity).

    Plan shape: two :func:`lsh_signatures` passes (map-only, one
    matmul each; corpus side T x n rows, probe side T x |probes| rows
    exploded (1 + b)-fold by :func:`hamming1_probes`), one cross-side
    (table_id, sig) equi-join — neither side broadcast — a pair
    distinct (multiple tables can surface the same pair, unlike the
    one-cell-per-vector tier), then the identical exact tail as
    :func:`hard_negatives`: different-label filter, false-negative
    cap (``sim < max_sim``), per-probe top-k window.  Determinism:
    md5-derived planes, float64 matmul signs, round-6 cosines,
    id-ascending tie-breaks — the full mechanics replay in SQL.

    ``probe_bits=2`` (r17, via :func:`lsh_adaptive_plan`) widens
    coverage to Hamming-<=2 where the Hamming-1 table need exceeds
    the clamp (b >= 11 at the 0.45/92 design point).  Probes are
    small by contract (the exact tail broadcasts them), so the
    physical split is the ONE-SIDED radius-2 explode
    (:func:`hamming2_probes`) — per-table multiplicity is already 1
    against the unexploded corpus arm, no flip tags needed, and the
    candidate distinct stays probe-bounded.
    """
    if probe_bits not in (0, 1, 2):
        raise ValueError(f"probe_bits must be 0, 1 or 2, got {probe_bits}")
    sigs_c = lsh_signatures(
        corpus, id_col, "neighbor_id", vec_col, n_planes, n_tables, dim
    )
    sigs_p = lsh_signatures(
        probes, id_col, "query_id", vec_col, n_planes, n_tables, dim
    )
    if probe_bits == 2:
        probe_side = hamming2_probes(sigs_p, n_planes)
    elif probe_bits == 1:
        probe_side = hamming1_probes(sigs_p, n_planes)
    else:
        probe_side = sigs_p
    cand = (
        probe_side.join(sigs_c, ["table_id", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    p = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(p), "query_id")
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
                sim_decimals,
            ),
        )
        .filter(F.col("sim") < max_sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_ql").alias("query_label"),
            "neighbor_id",
            F.col("_cl").alias("neighbor_label"),
            F.col("rank").cast("long").alias("rank"),
            "sim",
        )
    )
