"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The training-data-pipeline dedup family, each expressed Spark-first:

- exact            -> hash groupBy on a fingerprint (one shuffle)
- n-gram Jaccard   -> shingle explode + self-join on shingle + count
                      ratio (the exact pairwise similarity, quadratic
                      in the worst case — the verification stage)
- MinHash + LSH    -> fixed-size signatures + banding so candidate
                      generation is an EQUI-join on band hashes (the
                      scale path: linear-ish, shuffle on band keys)
- SimHash          -> 16-bit near-dup fingerprint; Hamming-ball
                      lookups join on rotated bit-masks

Determinism: hash functions are md5-based (available and identical in
Spark and DuckDB), so every stage has an exact cross-engine oracle —
the LSH *mechanics* are verified by the driver, not just row counts.
MLlib's MinHashLSH (datasketch-style random permutations) is offered
as :func:`minhash_lsh_ml` for production; its randomized signatures
have no cross-engine oracle, so tests assert set-level properties.

Scale notes inline per function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from amazon_books_review_spark.functions.text import tokens
from amazon_books_review_spark.functions.text import word_ngrams as text_ngrams
from amazon_books_review_spark.operators.metrics import with_observation
from amazon_books_review_spark.session import (
    fetch_if_small,
    local_frame,
    materialize,
    size_metrics,
)


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: canonical (min-id) representative per distinct
    text.  groupBy on the raw text shuffles whole documents; at scale
    group on md5(text) instead — same result, 16-byte shuffle key."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """DISTINCT word n-gram shingles per document, as an array column.

    The token array is materialized in its own projection FIRST:
    inlining ``split(...)`` into the n-gram lambda makes Catalyst
    re-evaluate the full regex tokenization for every element_at call
    (measured 6s -> 0.5s at sf0.1 for this stage alone).
    """
    return df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        F.array_distinct(word_ngrams_from(F.col("_toks"), n)).alias("shingle_set"),
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """DISTINCT word n-gram shingles per document, exploded to rows
    (set semantics — Jaccard is over shingle sets).

    Uses the cheap sliced gram construction: the explode's Generate
    boundary makes it safe (see text.word_ngrams_sliced vs
    text.word_ngrams), and this exploded path is the hot one — it
    feeds the Jaccard self-join and the decontamination probe."""
    from amazon_books_review_spark.functions.text import word_ngrams_sliced

    return df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams_sliced(F.col("_toks"), n))
        ).alias("shingle"),
    )


def word_ngrams_from(tokens_col: Column, n: int) -> Column:
    """n-grams from a token-array Column via slice + zip_with.

    Hot-path note (100 TB): the naive ``transform(sequence(...), i ->
    element_at(tokens, i+j))`` form re-evaluates the tokens expression
    (a regex split of the whole document) PER ELEMENT inside the
    lambda — and Catalyst's CollapseProject re-inlines it even when
    materialized in a prior projection (measured 3x slowdown on the
    shingle stage at sf0.1).  The slice/zip_with form evaluates the
    tokens expression once per ROW, then walks arrays pairwise.  It
    also handles len(tokens) < n correctly (empty result, whereas
    ``sequence(0, negative)`` yields a descending index sequence).
    """
    return text_ngrams(tokens_col, n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over word-n-gram shingle sets.

    Plan shape: explode distinct shingles -> self equi-join on shingle
    -> count per pair = |intersection|; sizes come from a tiny per-doc
    agg broadcast back in.  Jaccard = inter / (|a|+|b|-inter).

    Scale notes:
    - the self-join on ``shingle`` is the quadratic hazard: a shingle
      shared by k docs emits k^2 pairs.  ``max_shingle_freq`` drops
      shingles more frequent than the cap first (stop-shingles carry
      no dedup signal but dominate the blow-up) — the standard guard
      for web-scale corpora.
    - ``id_a < id_b`` halves the pair space before the shuffle.
    - integer counts divide exactly in double => cross-engine stable.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        sh = (
            sh.join(F.broadcast(freq.filter(F.col("_f") <= max_shingle_freq)),
                    "shingle")
            .drop("_f")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    )


def minhash_signature_cols(n_hashes: int) -> list[str]:
    return [f"mh_{i}" for i in range(n_hashes)]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, n_hashes: int = 8
) -> DataFrame:
    """MinHash signatures with md5-family hash functions.

    Hash function i is ``md5(concat('i|', shingle))``; the signature
    component is the lexicographic MIN over the document's shingles —
    a random-permutation approximation that is deterministic and
    engine-portable (md5 is identical everywhere).  One groupBy per
    document computes ALL components (no per-hash passes).
    """
    sh = shingles(df, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_hash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """(id, band_id, band_hash) — the persistable LSH index rows.
    At 100 TB this table IS the dedup index: store it partitioned by
    band_hash prefix, and each new ingest batch equi-joins against it
    (see :func:`dedup_incremental_neardup`)."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, n_hashes)
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(
            sig.select(
                F.col(id_col),
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    banded = band_rows[0]
    for extra in band_rows[1:]:
        banded = banded.unionByName(extra)
    return banded


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """LSH candidate pairs: band the signature, equi-join on
    (band_id, band_hash).

    With r rows per band, a pair with Jaccard s collides in a band
    with prob ~ s^r; b bands make the overall candidate prob
    1-(1-s^r)^b — the classic S-curve.  The join is an EQUI-join on a
    16-byte key: linear shuffle, no pairwise blow-up beyond true
    near-duplicate clusters.
    """
    banded = band_hash_table(df, id_col, text_col, n, n_hashes, bands)
    a = banded.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    b_side = banded.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        a.join(b_side, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Two-stage near-dup detection: LSH candidates -> exact Jaccard
    verification.  THE scale path for all-pairs similarity:

    - candidate generation is the banded equi-join (linear shuffle;
      no quadratic term beyond true near-dup clusters), and
    - verification joins the per-doc shingle-set ARRAYS back onto the
      (small) candidate list and intersects in-memory per pair —
      the 73M-row shingle self-join of the exact operator collapses
      to |candidates| array intersections.

    Approximation contract: a pair with Jaccard s is examined with
    probability 1-(1-s^r)^b (r = n_hashes/bands); at the default
    (r=4, b=2) pairs at s>=0.9 are near-certain, s~=0.5 pairs mostly
    not.  Tune bands up for recall at lower thresholds.  Deterministic
    given the md5 hash family => exactly oracle-checkable.
    """
    cand = minhash_lsh_pairs(df, id_col, text_col, n, n_hashes, bands)
    sets = shingle_sets(df, id_col, text_col, n)
    a = sets.select(
        F.col(id_col).alias("id_a"), F.col("shingle_set").alias("_set_a")
    )
    b = sets.select(
        F.col(id_col).alias("id_b"), F.col("shingle_set").alias("_set_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_set_a", "_set_b")).alias("n_common"),
            F.size("_set_a").alias("size_a"),
            F.size("_set_b").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_incremental_exact(
    new_df: DataFrame, index_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental exact dedup: the survivors of a NEW batch against
    an existing corpus index.

    The production shape — a 100 TB corpus is never re-deduped whole;
    each ingest batch (a) dedups within itself (min-id canonical per
    md5) and (b) anti-joins the historical fingerprint set.  Both
    steps shuffle 16-byte md5 keys only; the index side reduces to
    its fingerprint column before the join.

    Returns (id, text_md5) for documents that should be ADDED to the
    corpus (and whose fingerprints then extend the index).
    """
    idx = index_df.select(F.md5(F.col(text_col)).alias("text_md5")).distinct()
    within = (
        new_df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias(id_col))
    )
    return within.join(idx, "text_md5", "left_anti").select(id_col, "text_md5")


def dedup_incremental_neardup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup filter: new documents with no verified
    near-duplicate already in the index.

    Same two-stage shape as :func:`lsh_verified_pairs`, but the
    candidate join is new-bands x INDEX-bands (the persistable
    :func:`band_hash_table`), so cost scales with the increment, not
    the corpus.  Candidates verify by exact shingle-set Jaccard
    against the matched index docs; matched new ids anti-join away.

    Within-increment near-dups are deliberately NOT collapsed here —
    chain that with the batch two-stage operator if wanted; this is
    the index-membership filter.
    """
    new_bands = band_hash_table(new_df, id_col, text_col, n, n_hashes, bands)
    idx_bands = band_hash_table(index_df, id_col, text_col, n, n_hashes, bands)
    cand = (
        new_bands.select(F.col(id_col).alias("new_id"), "band_id", "band_hash")
        .join(
            idx_bands.select(F.col(id_col).alias("idx_id"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .select("new_id", "idx_id")
        .distinct()
    )
    new_sets = shingle_sets(new_df, id_col, text_col, n).select(
        F.col(id_col).alias("new_id"), F.col("shingle_set").alias("_set_new")
    )
    idx_sets = shingle_sets(index_df, id_col, text_col, n).select(
        F.col(id_col).alias("idx_id"), F.col("shingle_set").alias("_set_idx")
    )
    n_common = F.size(F.array_intersect("_set_new", "_set_idx"))
    jac = n_common / (
        F.size("_set_new") + F.size("_set_idx") - n_common
    )
    matched = (
        cand.join(new_sets, "new_id")
        .join(idx_sets, "idx_id")
        .filter(F.round(jac, 6) >= threshold)
        .select("new_id")
        .distinct()
    )
    return (
        new_df.select(F.col(id_col))
        .join(matched, F.col(id_col) == F.col("new_id"), "left_anti")
        .select(id_col)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over a near-dup pair list -> (node,
    cluster_id), where cluster_id is the minimum member id — the
    canonical-document assignment that turns pairwise matches into
    dedup groups.

    Algorithm: min-label propagation.  Each round every node takes the
    minimum label among itself and its neighbors; convergence in
    O(component diameter) rounds (near-dup clusters are shallow — a
    handful of rounds in practice).  Each round is one join + one
    groupBy; while the node set fits the broadcast budget the label
    join is a broadcast (the edge frame is never shuffled), degrading
    to a shuffle join past the cap.  Labels are checkpointed and the
    lineage truncated per round so the plan doesn't grow with
    iterations.  The per-round convergence check is an observation on
    that checkpoint job.  A pair list that fits the broadcast threshold
    takes the local arm instead (``session.materialize``): the same
    rounds in numpy on the driver, returned as a ``LocalRelation``.

    ``algorithm="star"`` switches to large-star/small-star
    (:func:`connected_components_star`) — O(log n) rounds instead of
    O(diameter), the right choice for deep/chained clusters; both
    produce identical (node, min-id) output (property-tested).
    """
    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b, max_iter)
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Symmetrize with ONE evaluation of the pair subtree: the
    # union-with-flipped form evaluates the (often expensive) upstream
    # pair miner once per union branch; explode over a 2-element struct
    # array reads it exactly once.  Checkpoint FIRST and derive nodes
    # from the checkpointed frame so the miner never runs again for the
    # node/label seed jobs (it used to run 4x before the first round).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    sym, obs = with_observation(sym, size_metrics("src", "dst"))
    sym = materialize(sym)
    seen = obs.get
    tbl = fetch_if_small(sym, seen["n"], seen["nulls"])
    if tbl is not None:
        node, label, changed, converged = _cc_label_prop_local(
            tbl.column("src").to_numpy(), tbl.column("dst").to_numpy(), max_iter
        )
        labels = _local_labels(sym, node, label, "label")
    else:
        labels, changed, converged = _cc_label_prop_rounds(sym, max_iter)
    if not converged:
        # r19 (found by the SF10_SEMDEDUP_R19 decade audit): at
        # threshold-graph scale component diameters exceed any fixed
        # round budget and label propagation silently returned
        # UNCONVERGED labels — endpoints of a known edge landed in
        # different clusters.  Non-convergence is now observable; the
        # durable fix at scale is algorithm="star" (O(log n) rounds).
        import warnings

        warnings.warn(
            f"connected_components: label propagation did not"
            f" converge in {max_iter} rounds ({changed} labels still"
            " changing) — component diameter exceeds the round"
            " budget; labels are NOT a fixpoint.  Use"
            " algorithm='star' (O(log n) rounds) for deep/chained"
            " graphs, or raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def _cc_label_prop_rounds(
    sym: DataFrame, max_iter: int
) -> tuple[DataFrame, int | None, bool]:
    """The distributed min-label rounds of :func:`connected_components`
    over the materialized symmetric edge list -> (labels, labels still
    changing after the last round, converged)."""
    from amazon_books_review_spark.operators.joins import broadcast_if_small

    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels, obs = with_observation(
        nodes.withColumn("label", F.col("node")), {"n": F.count(F.lit(1))}
    )
    labels = materialize(labels)
    # Node count is dimension-sized and observed on the checkpoint: it
    # buys broadcast label joins every round (no edge shuffle).
    n_nodes = obs.get["n"]

    changed = None
    for _ in range(max_iter):
        lb = broadcast_if_small(labels, n_nodes)
        nbr_labels = sym.join(
            lb, sym["dst"] == lb["node"]
        ).select(F.col("src").alias("node"), F.col("label"))
        # Fold the convergence check into the SAME materialization:
        # the min-agg joins back to the old labels so the checkpointed
        # frame carries a per-node changed flag, summed by an
        # observation on the checkpoint job itself.
        old = broadcast_if_small(
            labels.select("node", F.col("label").alias("old_label")), n_nodes
        )
        merged, obs = with_observation(
            labels.select("node", "label")
            .unionByName(nbr_labels)
            .groupBy("node")
            .agg(F.min("label").alias("new_label"))
            .join(old, "node")
            .select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).cast("long").alias("ch"),
            ),
            {"ch": F.sum("ch")},
        )
        merged = materialize(merged)
        changed = obs.get["ch"]
        labels = merged.select("node", "label")
        if not changed:
            return labels, changed, True
    return labels, changed, False


def _cc_label_prop_local(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray, int | None, bool]:
    """:func:`_cc_label_prop_rounds` on the driver: the same
    synchronous min-label rounds over the fetched symmetric edge
    arrays, with the same round budget and early stop."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: len(src)], idx[len(src):]
    node = np.unique(s)
    labelled = np.zeros(len(ids), bool)
    labelled[node] = True
    hit = labelled[d]
    s, d = s[hit], d[hit]
    label = np.arange(len(ids))
    changed = None
    for _ in range(max_iter):
        new = label.copy()
        np.minimum.at(new, s, label[d])
        changed = int(np.count_nonzero(new[node] != label[node]))
        label = new
        if not changed:
            return ids[node], ids[label[node]], changed, True
    return ids[node], ids[label[node]], changed, False


def _local_labels(
    edges: DataFrame, node: np.ndarray, label: np.ndarray, label_col: str
) -> DataFrame:
    """(node, ``label_col``) arrays as a ``LocalRelation`` typed like
    the edge list's ids."""
    t = edges.schema["src"].dataType
    schema = StructType([StructField("node", t), StructField(label_col, t)])
    return local_frame(edges.sparkSession, {"node": node, label_col: label}, schema)


#: Edge count below which the per-round large-star intermediate is NOT
#: checkpointed: re-evaluating the 2-shuffle subtree for small_star's
#: three references costs less than an extra materialization job on a
#: dimension-sized edge set.  Above it (threshold graphs at scale) the
#: checkpoint wins — the subtree grows with |E| while the job overhead
#: stays fixed.
_STAR_LS_CKPT_MIN_EDGES = 100_000


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — a public MapReduce/Spark-folklore algorithm).

    Each round is two groupBy+join passes; the edge set contracts
    toward a forest of stars (every node pointing at its component
    minimum) in O(log n) rounds — label propagation needs O(diameter)
    rounds, which on a 100 TB near-dup graph with chained duplicates
    (doc A ~ B ~ C ~ ...) can be hundreds.  Per round the edge set is
    cached and lineage truncated, so the plan stays flat.

    - large-star: for each node u, connect every LARGER neighbor to
      m = min(N(u) + {u}).  Keeps inter-level edges, shrinks tall
      chains.
    - small-star: for each node u (edges oriented big->small), connect
      all smaller neighbors and u itself to the minimum.  Flattens
      local stars.

    Convergence: the oriented edge set is a fixpoint.  Output contract
    matches :func:`connected_components`: (node, cluster_id = min
    member id).  An edge set that fits the broadcast threshold runs
    the same rounds on the driver (``session.materialize``).
    """
    raw = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # orient big -> small; the star loop maintains this invariant
    edges, obs = with_observation(
        raw.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct(),
        size_metrics("src", "dst"),
    )
    edges = materialize(edges)
    seen = obs.get
    tbl = fetch_if_small(edges, seen["n"], seen["nulls"])
    if tbl is not None:
        node, cluster_id, converged = _cc_star_local(
            tbl.column("src").to_numpy(), tbl.column("dst").to_numpy(), max_iter
        )
        labels = _local_labels(edges, node, cluster_id, "cluster_id")
    else:
        labels, converged = _cc_star_rounds(edges, seen["n"], max_iter)
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star: no fixpoint in {max_iter}"
            " rounds — labels may not be component minima; raise"
            " max_iter (rounds needed grow O(log n)).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _cc_star_rounds(
    edges: DataFrame, n_edges: int, max_iter: int
) -> tuple[DataFrame, bool]:
    """The distributed large-star/small-star rounds of
    :func:`connected_components_star` over the materialized, oriented
    edge set -> (labels, converged)."""

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("_min_nbr"))
        m = F.least(F.col("_min_nbr"), F.col("src")).alias("m")
        with_m = sym.join(mins, "src").select("src", "dst", m)
        return (
            with_m.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is oriented big -> small, so per src ALL neighbors are <=
        mins = e.groupBy("src").agg(F.min("dst").alias("m"))
        joined = e.join(mins, "src")
        return (
            joined.filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins.select("src", F.col("m").alias("dst")))
            .distinct()
        )

    # r19 loop hygiene: (a) checkpoint the large-star output per round —
    # small_star references its input three times (min agg, join, union
    # arm) and Catalyst re-evaluates the 2-shuffle subtree per
    # reference; size-adaptive: below _STAR_LS_CKPT_MIN_EDGES the
    # re-evaluation is cheaper than the extra materialization job, so
    # the checkpoint only engages on graphs where it pays (results are
    # identical either way — it is purely a materialization choice);
    # (b) carry the previous round's count instead of re-counting the
    # old checkpoint; (c) fixpoint containment via a left-anti join —
    # both sides are already distinct SETS, so |new| == |old| and
    # new \ old == {} imply equality without subtract's re-distinct of
    # both sides.
    prev_count = n_edges
    converged = False
    for _ in range(max_iter):
        ls = large_star(edges)
        if prev_count >= _STAR_LS_CKPT_MIN_EDGES:
            ls = materialize(ls)
        new_edges, obs = with_observation(small_star(ls), {"n": F.count(F.lit(1))})
        new_edges = materialize(new_edges)
        new_count = obs.get["n"]
        converged = (
            new_count == prev_count
            and new_edges.join(edges, ["src", "dst"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        edges = new_edges
        prev_count = new_count
        if converged:
            break

    roots = edges.select(F.col("dst").alias("node")).distinct()
    labels = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
        .unionByName(roots.select("node", F.col("node").alias("cluster_id")))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return labels, converged


def _cc_star_local(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray, bool]:
    """:func:`_cc_star_rounds` on the driver.  Ids are ranked into
    ``0..n-1`` (order kept) and each edge set is the sorted array of
    keys ``src * n + dst``, so the fixpoint test — same count and
    nothing new — is array equality."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)

    def min_by(keys: np.ndarray, vals: np.ndarray) -> np.ndarray:
        out = np.full(n, n)
        np.minimum.at(out, keys, vals)
        return out

    def large_star(e: np.ndarray) -> np.ndarray:
        es, ed = np.divmod(e, n)
        ss, sd = np.r_[es, ed], np.r_[ed, es]
        m = np.minimum(min_by(ss, sd)[ss], ss)
        up = (sd > ss) & (sd != m)
        return np.unique(sd[up] * n + m[up])

    def small_star(e: np.ndarray) -> np.ndarray:
        es, ed = np.divmod(e, n)
        mins = min_by(es, ed)
        m = mins[es]
        srcs = np.unique(es)
        return np.unique(np.r_[(ed * n + m)[ed != m], srcs * n + mins[srcs]])

    edges = np.unique(idx[: len(src)] * n + idx[len(src):])
    converged = False
    for _ in range(max_iter):
        new_edges = small_star(large_star(edges))
        converged = np.array_equal(new_edges, edges)
        edges = new_edges
        if converged:
            break
    es, ed = np.divmod(edges, n)
    roots = np.unique(ed)
    node_all = np.r_[es, roots]
    best = min_by(node_all, np.r_[ed, roots])
    node = np.unique(node_all)
    return ids[node], ids[best[node]], converged


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over tokens.

    Per token: a 16-bit hash from the first 4 hex chars of md5(token).
    Per bit j: sum +1/-1 across tokens (+weighting would slot in
    here); fingerprint bit j = (sum > 0).  All expressed as 16 SUM
    aggregations over the exploded tokens — one shuffle on doc id.
    Near-dup lookup = Hamming distance on the fingerprints (tested in
    pytest; pairs of hamming<=k via banding the 16 bits if needed).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    tok = tok.withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(16)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"s_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else (fp + bit)
    return sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit fingerprints (popcount of
    XOR via bit_count — built-in, codegen'd)."""
    return F.bit_count(a.bitwiseXOR(b))


def minhash_lsh_ml(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hash_tables: int = 5,
    jaccard_distance: float = 0.5,
    n: int = 3,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Production-scale near-dup via MLlib MinHashLSH (seeded):
    HashingTF shingle sets -> MinHash signatures -> approxSimilarityJoin.
    Randomized signatures => no cross-engine oracle; validated by
    set-level properties in tests."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = df.select(
        F.col(id_col), word_ngrams_from(tokens(text_col), n).alias("grams")
    ).filter(F.size("grams") > 0)
    tf = HashingTF(
        inputCol="grams", outputCol="features", numFeatures=num_features, binary=True
    )
    feats = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard_est"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
