"""North-star catalog queries: dedup, similarity, text analysis, multimodal.

The training-data-pipeline operator suite over `documents` and
`embeddings` (BASELINE.json extensions).  Everything hash-based uses
md5 so DuckDB oracles verify the *mechanics* (signatures, bands,
buckets), not just row counts.  The driver's sf0.01 documents table
contains planted near-duplicates (max 2-gram Jaccard ~0.99 vs ~0.10
background), so threshold 0.5 cleanly isolates true pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.functions import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)
from amazon_books_review_spark.session import materialize
from amazon_books_review_spark.sources.io import load_table, table_row_count

# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, "doc_id", "text")


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Dedup: exact n-gram Jaccard pairs (the verification stage)
# ---------------------------------------------------------------------------

NGRAM_N = 2
JACCARD_THRESHOLD = 0.5


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=NGRAM_N, threshold=JACCARD_THRESHOLD
    )


NGRAM_JACCARD_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
    )) AS shingle
    FROM docs
), sizes AS (
    SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       sa.set_size AS size_a,
       sb.set_size AS size_b,
       round(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Dedup: MinHash signatures + LSH banding (the scale path)
# ---------------------------------------------------------------------------

N_HASHES = 8
BANDS = 2
_ROWS_PER_BAND = N_HASHES // BANDS


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=NGRAM_N, n_hashes=N_HASHES, bands=BANDS
    )


def _minhash_oracle() -> str:
    mh_exprs = ",\n           ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(N_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
    )) AS shingle
    FROM docs
), sig AS (
    SELECT doc_id,
           {mh_exprs}
    FROM sh GROUP BY doc_id
), banded AS (
    {bands_sql}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


def dedup_neardup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(
        docs, "doc_id", "text",
        n=NGRAM_N, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )


def _lsh_verified_oracle() -> str:
    """Candidates from the MinHash oracle, verified with exact
    list_intersect Jaccard — mirrors dedup.lsh_verified_pairs."""
    mh_exprs = ",\n           ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(N_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
WITH docs AS (
    SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
), sets AS (
    SELECT doc_id, list_distinct(
        [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
    ) AS shingle_set
    FROM docs
), sh AS (
    SELECT doc_id, unnest(shingle_set) AS shingle FROM sets
), sig AS (
    SELECT doc_id,
           {mh_exprs}
    FROM sh GROUP BY doc_id
), banded AS (
    {bands_sql}
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
), verified AS (
    SELECT id_a, id_b,
           len(list_intersect(sa.shingle_set, sb.shingle_set)) AS n_common,
           len(sa.shingle_set) AS size_a,
           len(sb.shingle_set) AS size_b
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, n_common, size_a, size_b,
       round(n_common * 1.0 / (size_a + size_b - n_common), 6) AS jaccard
FROM verified
WHERE round(n_common * 1.0 / (size_a + size_b - n_common), 6) >= {JACCARD_THRESHOLD}
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the LSH-verified
    pair list — each clustered doc mapped to its canonical (min) id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_verified_pairs(
        docs, "doc_id", "text",
        n=NGRAM_N, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    return dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def _dedup_clusters_oracle() -> str:
    """Transitive closure via recursive CTE over the same verified
    pairs; cluster id = min reachable node."""
    verified = _lsh_verified_oracle().strip().rstrip()
    return f"""
WITH RECURSIVE pairs AS (
{verified}
), sym AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
), reach(node, label) AS (
    SELECT src, src FROM sym
    UNION
    SELECT s.src, r.label
    FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id
FROM reach
GROUP BY node
"""


# ---------------------------------------------------------------------------
# Dedup: SimHash fingerprints
# ---------------------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash16(docs, "doc_id", "text")


def _simhash_oracle() -> str:
    # hex( md5(token)[0:4] ) -> int via char-position arithmetic.
    hex_digit = (
        lambda i: f"(strpos('0123456789abcdef', substr(md5(tok), {i}, 1)) - 1)"
    )
    h4 = f"((({hex_digit(1)} * 16 + {hex_digit(2)}) * 16 + {hex_digit(3)}) * 16 + {hex_digit(4)})"
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(16)
    )
    fp = " + ".join(f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
    SELECT doc_id, {h4} AS h FROM toks
), sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


# ---------------------------------------------------------------------------
# Similarity: exact cosine top-k + sign-LSH bucketed variant
# ---------------------------------------------------------------------------

TOPK_K = 5
N_PROBES = 10
EMB_DIM = 64
#: Candidate oversampling factor for the sign-LSH top-k tier: each
#: probe's candidate pool (n_tables x bucket occupancy) must cover the
#: requested k with slack, so the table count DERIVES as
#: ceil(FACTOR * k / occupancy) instead of being inherited (VERDICT
#: r14 #4).  This tier's contract is CHEAP candidate generation at a
#: per-probe cost that stays constant in the corpus size (occupancy is
#: held by the self-sized planes, tables fixed by this rule); recall
#: TARGETING is owned by the IVF tier (learned cells + nprobe, ~90%
#: audited) and by `n_tables_for` where union recall is the goal (the
#: near-dup miner) — the r15 sweep measured exact-top-5 overlap of
#: 8%/20% at T=2/4 (sf0.01) on the synthetic near-uniform embeddings,
#: so buying top-k recall with tables here would cost linearly for a
#: geometric trickle.
LSH_TOPK_CAND_FACTOR = 3
#: Per-table bucket occupancy the self-sized plane count holds (see
#: the plane-derivation block ahead of `similarity_lsh_topk`).
LSH_TOPK_OCC = 8
LSH_TABLES = -(-LSH_TOPK_CAND_FACTOR * TOPK_K // LSH_TOPK_OCC)  # ceil -> 2


def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=TOPK_K)


COSINE_TOPK_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), probes AS (
    SELECT * FROM v WHERE vec_id < {N_PROBES}
), scored AS (
    SELECT p.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           round(list_inner_product(p.e, c.e) / (p.nrm * c.nrm), 6) AS sim
    FROM probes p
    JOIN v c ON c.vec_id <> p.vec_id
), ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
           sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOPK_K}
"""


BITEXT_K = 4
BITEXT_MARGIN = 1.02


def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the
    LASER/CCMatrix parallel-corpus alignment rule) between two
    embedding corpora — even vec_ids play the source language, odd
    the target (the incremental-dedup split convention).  Mutual
    k-NN candidates scored by the hubness-normalizing ratio margin;
    see :func:`functions.similarity.margin_bitext_pairs` for the
    integer-quantized engine-exactness contract and the IVF candidate
    path at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return similarity.margin_bitext_pairs(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    )


BITEXT_MARGIN_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), s AS (
    SELECT vec_id AS src_id, e, nrm FROM v WHERE vec_id % 2 = 0
), t AS (
    SELECT vec_id AS tgt_id, e, nrm FROM v WHERE vec_id % 2 = 1
), scored AS (
    SELECT src_id, tgt_id,
           CAST(floor(list_inner_product(s.e, t.e) / (s.nrm * t.nrm)
                      * 1000000 + 0.5) AS BIGINT) AS cos_q
    FROM s, t
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos_q DESC, tgt_id ASC) AS rank_x,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos_q DESC, src_id ASC) AS rank_y
    FROM scored
), sums AS (
    SELECT *,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY src_id) AS sum_x,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY src_id) AS cnt_x,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY tgt_id) AS sum_y,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY tgt_id) AS cnt_y
    FROM ranked
), margins AS (
    SELECT src_id, tgt_id, cos_q,
           round(2.0 * cos_q
                 / (sum_x * 1.0 / cnt_x + sum_y * 1.0 / cnt_y), 6) AS margin
    FROM sums
    WHERE rank_x <= {BITEXT_K} AND rank_y <= {BITEXT_K}
)
SELECT src_id, tgt_id, cos_q, margin
FROM margins
WHERE margin > {BITEXT_MARGIN!r}
"""


def bitext_margin_mining_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-bounded scale shape of bitext_margin_mining: the
    quantizer cell (the embeddings ``label`` column; at 100 TB the
    learned IVF cell with the corpora physically partitioned by it)
    bounds candidates to SAME-CELL pairs via a plain shuffle
    equi-join — neither corpus broadcast — and the identical
    rank/sum/margin scoring tail runs over the candidates
    (:func:`functions.similarity.margin_bitext_pairs_cells`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return similarity.margin_bitext_pairs_cells(
        src, tgt, "vec_id", "embedding", "label",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    )


BITEXT_MARGIN_CELLS_ORACLE = f"""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), s AS (
    SELECT vec_id AS src_id, label, e, nrm FROM v WHERE vec_id % 2 = 0
), t AS (
    SELECT vec_id AS tgt_id, label, e, nrm FROM v WHERE vec_id % 2 = 1
), scored AS (
    SELECT src_id, tgt_id,
           CAST(floor(list_inner_product(s.e, t.e) / (s.nrm * t.nrm)
                      * 1000000 + 0.5) AS BIGINT) AS cos_q
    FROM s JOIN t USING (label)
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos_q DESC, tgt_id ASC) AS rank_x,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos_q DESC, src_id ASC) AS rank_y
    FROM scored
), sums AS (
    SELECT *,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY src_id) AS sum_x,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY src_id) AS cnt_x,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY tgt_id) AS sum_y,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY tgt_id) AS cnt_y
    FROM ranked
), margins AS (
    SELECT src_id, tgt_id, cos_q,
           round(2.0 * cos_q
                 / (sum_x * 1.0 / cnt_x + sum_y * 1.0 / cnt_y), 6) AS margin
    FROM sums
    WHERE rank_x <= {BITEXT_K} AND rank_y <= {BITEXT_K}
)
SELECT src_id, tgt_id, cos_q, margin
FROM margins
WHERE margin > {BITEXT_MARGIN!r}
"""


HARDNEG_MAX_SIM = 0.95


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: per probe, the top-k
    most-similar vectors with a DIFFERENT label, capped below the
    presumed-positive threshold — see
    :func:`functions.similarity.hard_negatives` for the
    false-negative guard and the IVF posture at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.hard_negatives(
        emb, probes, "vec_id", "embedding", "label",
        k=TOPK_K, max_sim=HARDNEG_MAX_SIM,
    )


HARD_NEGATIVES_ORACLE = f"""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), probes AS (
    SELECT vec_id AS query_id, label AS query_label, e, nrm
    FROM v WHERE vec_id < {N_PROBES}
), scored AS (
    SELECT p.query_id, p.query_label,
           c.vec_id AS neighbor_id, c.label AS neighbor_label,
           round(list_inner_product(p.e, c.e) / (p.nrm * c.nrm), 6) AS sim
    FROM probes p
    JOIN v c ON c.label <> p.query_label
), capped AS (
    SELECT * FROM scored WHERE sim < {HARDNEG_MAX_SIM!r}
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM capped
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= {TOPK_K}
"""


def bitext_cells_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the cell-routed bitext tier against the
    exact tier (VERDICT r12 #4) — the bitext counterpart of
    ann_recall_audit: the cells path bounds candidates to same-cell
    pairs AND computes k-NN means within-cell, so its mined pair set
    both misses cross-cell pairs (recall < 100) and can admit pairs
    whose within-cell margin clears the bar only because the cell-mean
    denominator is smaller (precision < 100).  Both tiers are
    engine-exact (integer-quantized cosines, deterministic
    tie-breaks), so the audit is replayed by DuckDB to the integer —
    no tolerance band.  At 100 TB this query IS the cell-occupancy
    tuning loop: mine a corpus sample both ways after each
    re-clustering and read recall/precision before committing the
    full run."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    exact = similarity.margin_bitext_pairs(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    ).select("src_id", "tgt_id")
    cells = similarity.margin_bitext_pairs_cells(
        src, tgt, "vec_id", "embedding", "label",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    ).select("src_id", "tgt_id")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cells.agg(F.count(F.lit(1)).alias("n_cells"))
    nh = exact.join(cells, ["src_id", "tgt_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        ne.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_cells",
            "n_hit",
            # empty-tier guard (ADVICE r13): Spark's `div` yields NULL on a
            # zero denominator while DuckDB's `//` differs — define the
            # degenerate cases instead (no exact pairs => nothing to miss,
            # recall 100; no mined pairs => nothing spurious, precision 100)
            F.expr(
                "CASE WHEN n_exact = 0 THEN 100"
                " ELSE n_hit * 100 div n_exact END"
            ).cast("long").alias("recall_pct"),
            F.expr(
                "CASE WHEN n_cells = 0 THEN 100"
                " ELSE n_hit * 100 div n_cells END"
            ).cast("long").alias("precision_pct"),
        )
    )


BITEXT_CELLS_RECALL_ORACLE = f"""
WITH exact_pairs AS ({BITEXT_MARGIN_ORACLE}),
cells_pairs AS ({BITEXT_MARGIN_CELLS_ORACLE}),
counts AS (
    SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
           (SELECT count(*) FROM cells_pairs) AS n_cells,
           (SELECT count(*)
            FROM exact_pairs e JOIN cells_pairs c
              ON e.src_id = c.src_id AND e.tgt_id = c.tgt_id) AS n_hit
)
SELECT n_exact, n_cells, n_hit,
       CAST(CASE WHEN n_exact = 0 THEN 100
                 ELSE n_hit * 100 // n_exact END AS BIGINT) AS recall_pct,
       CAST(CASE WHEN n_cells = 0 THEN 100
                 ELSE n_hit * 100 // n_cells END AS BIGINT) AS precision_pct
FROM counts
"""


#: Self-sizing + multi-assignment (VERDICT r13 #1/#2): the cluster
#: count is DERIVED from the corpus cardinality per run (k = clamp(
#: ceil(n / OCC), KMIN, KMAX) — occupancy stays flat as the corpus
#: grows; the pinned k=10 measured 36.6x wall for 10x data at sf1 vs
#: 5.74x with k scaled), and each SOURCE vector probes its NPROBE
#: nearest cells so near-boundary pairs — the mass a single-assignment
#: same-cell join structurally misses — become candidates.
BITEXT_KM_OCC = 50
BITEXT_KM_KMIN = 2
BITEXT_KM_KMAX = 4096
#: Probe width, FIXED by design rather than derived from k: per-source
#: candidate volume is nprobe x occupancy — constant in the corpus
#: size only while nprobe is constant (a probe-a-fraction-of-k rule
#: would make the candidate join quadratic again, the exact r13
#: scale-killer shape).  Width chosen off the measured recall curve
#: (r15 sweep, vs the exact tier): nprobe 2/4/8 reads 50/74/96% recall
#: at sf0.01 and 26/39/58% at sf0.1, with audit wall FLAT (12.6 ->
#: 14.4 s at sf0.1 — the k-means fit dominates, the widened candidate
#: join is the cheap part at these scales and stays occupancy-bounded
#: at any scale).  8 takes the quality knee; past it the lever is
#: quantizer quality (k, iterations), not more probes.
BITEXT_KM_NPROBE = 8


def bitext_margin_mining_cells_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitext cells tier over a LEARNED quantizer (r13): the
    recall audit measured the label-cell tier at ~8% recall — exactly
    its same-cell collision mass, because the label column is
    metadata, not geometry.  This variant routes over the engine's
    quantized deterministic k-means clusters (the SemDeDup / IVF
    machinery, `scale_ops_queries._km_fit`) so cells ARE cosine
    neighborhoods; same candidate shape (plain same-cell shuffle
    equi-join, neither corpus broadcast) and identical margin tail.

    r14 upgrades, both oracle-replayed:

    - ``k`` is self-sizing (:func:`scale_ops_queries.km_k_for`): the
      SQL derives the same k from ``count(*)`` with identical integer
      arithmetic, and the seed CTE takes the first ``rn <= k`` rows.
    - the SOURCE side is MULTI-ASSIGNED to its ``BITEXT_KM_NPROBE``
      nearest cells (:func:`scale_ops_queries._km_assign_multiprobe`)
      — the IVF recall lever that took the ANN audit 30 -> 94.  The
      target side keeps single assignment, so each (src, tgt) pair
      still joins at most once (tgt lives in exactly one cell):
      dedup-free by construction.

    `bitext_kmeans_recall_audit` quantifies the recall this buys; at
    100 TB the pair is the re-clustering acceptance test for a mining
    run, exactly like the ann_recall_audit pair for ANN.  Above
    ``KM_ROUTE_MIN_K`` both the Lloyd passes and the multiprobe
    routing switch to the two-level coarse-cell strategy (n x 2sqrt(k)
    instead of n x k); parity scales stay below that bound, so the
    DuckDB replay is the exact brute tier."""
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KM_ROUTE_MIN_K,
        _km_assign_multiprobe,
        _km_fit,
        km_k_for,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")  # footer, no count job (r19)
    k = km_k_for(n, BITEXT_KM_OCC, k_min=BITEXT_KM_KMIN, k_max=BITEXT_KM_KMAX)
    qdf, centroids, assign_pass = _km_fit(spark, sf_dir, k=k)
    src_cells = _km_assign_multiprobe(
        qdf.filter(F.col("vec_id") % 2 == 0),
        centroids,
        nprobe=BITEXT_KM_NPROBE,
        route=k >= KM_ROUTE_MIN_K,
    ).select("vec_id", F.col("cluster").alias("km_cell"))
    tgt_cells = assign_pass(
        qdf.filter(F.col("vec_id") % 2 == 1), centroids
    ).select("vec_id", F.col("cluster").alias("km_cell"))
    src = emb.join(src_cells, "vec_id")
    tgt = emb.join(tgt_cells, "vec_id")
    return similarity.margin_bitext_pairs_cells(
        src, tgt, "vec_id", "embedding", "km_cell",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    )


def _bitext_kmeans_cells_sql() -> str:
    """The cells-tier bitext SQL over the k-means CTE cells (the
    BITEXT_MARGIN_CELLS_ORACLE shape with label -> learned cluster).

    Replays BOTH r14 upgrades exactly: the cluster count comes from a
    ``count(*)``-derived expression with the same integer arithmetic
    as :func:`scale_ops_queries.km_k_for` (the seed CTE takes the
    first ``rn <= k`` vectors), and the source side is routed to its
    ``BITEXT_KM_NPROBE`` nearest FINAL centroids with the same int64
    distance and ``dist ASC, cid ASC`` tie rule as the operator's
    stable argsort (``sprobe``, the single-assignment CTE with
    ``rn = 1`` relaxed to ``rn <= nprobe``)."""
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KM_DIM,
        KM_ITERS,
        _kmeans_ctes,
    )

    k_expr = (
        f"SELECT GREATEST({BITEXT_KM_KMIN}, LEAST({BITEXT_KM_KMAX}, "
        f"(count(*) + {BITEXT_KM_OCC} - 1) // {BITEXT_KM_OCC})) FROM embeddings"
    )
    last_c = f"c{KM_ITERS - 1}"
    last_a = f"a{KM_ITERS - 1}"
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
        " * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))"
    ).format(d=KM_DIM)
    prelude = (
        ",\n".join(_kmeans_ctes(k=k_expr))
        + f""",
sprobe AS (
    SELECT vec_id, cluster FROM (
        SELECT q.vec_id, c.cid AS cluster,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY CAST({dist} AS BIGINT) ASC, c.cid ASC) AS rn
        FROM q, {last_c} c
        WHERE q.vec_id % 2 = 0
    ) WHERE rn <= {BITEXT_KM_NPROBE}
)"""
    )
    return f"""
WITH {prelude}, v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), s AS (
    SELECT sp.vec_id AS src_id, sp.cluster AS cell, v.e, v.nrm
    FROM sprobe sp JOIN v ON v.vec_id = sp.vec_id
), t AS (
    SELECT a.vec_id AS tgt_id, a.cluster AS cell, v.e, v.nrm
    FROM {last_a} a JOIN v ON v.vec_id = a.vec_id
    WHERE a.vec_id % 2 = 1
), scored AS (
    SELECT src_id, tgt_id,
           CAST(floor(list_inner_product(s.e, t.e) / (s.nrm * t.nrm)
                      * 1000000 + 0.5) AS BIGINT) AS cos_q
    FROM s JOIN t USING (cell)
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos_q DESC, tgt_id ASC) AS rank_x,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos_q DESC, src_id ASC) AS rank_y
    FROM scored
), sums AS (
    SELECT *,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY src_id) AS sum_x,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY src_id) AS cnt_x,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY tgt_id) AS sum_y,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY tgt_id) AS cnt_y
    FROM ranked
), margins AS (
    SELECT src_id, tgt_id, cos_q,
           round(2.0 * cos_q
                 / (sum_x * 1.0 / cnt_x + sum_y * 1.0 / cnt_y), 6) AS margin
    FROM sums
    WHERE rank_x <= {BITEXT_K} AND rank_y <= {BITEXT_K}
)
SELECT src_id, tgt_id, cos_q, margin
FROM margins
WHERE margin > {BITEXT_MARGIN!r}
"""


def bitext_kmeans_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the LEARNED-quantizer bitext tier vs the
    exact tier — same schema as bitext_cells_recall_audit so the two
    rows compare 1:1; `tests/test_round13.py` pins that the k-means
    tier's recall is no worse than the label-cell tier's (the
    quantizer-quality claim, asserted rather than narrated)."""
    emb = load_table(spark, sf_dir, "embeddings")
    src_all = emb.filter(F.col("vec_id") % 2 == 0)
    tgt_all = emb.filter(F.col("vec_id") % 2 == 1)
    exact = similarity.margin_bitext_pairs(
        src_all, tgt_all, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    ).select("src_id", "tgt_id")
    cells = bitext_margin_mining_cells_kmeans(spark, sf_dir).select(
        "src_id", "tgt_id"
    )
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cells.agg(F.count(F.lit(1)).alias("n_cells"))
    nh = exact.join(cells, ["src_id", "tgt_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        ne.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_cells",
            "n_hit",
            # empty-tier guard (ADVICE r13): Spark's `div` yields NULL on a
            # zero denominator while DuckDB's `//` differs — define the
            # degenerate cases instead (no exact pairs => nothing to miss,
            # recall 100; no mined pairs => nothing spurious, precision 100)
            F.expr(
                "CASE WHEN n_exact = 0 THEN 100"
                " ELSE n_hit * 100 div n_exact END"
            ).cast("long").alias("recall_pct"),
            F.expr(
                "CASE WHEN n_cells = 0 THEN 100"
                " ELSE n_hit * 100 div n_cells END"
            ).cast("long").alias("precision_pct"),
        )
    )


def _bitext_kmeans_recall_oracle() -> str:
    return f"""
WITH exact_pairs AS ({BITEXT_MARGIN_ORACLE}),
cells_pairs AS ({_bitext_kmeans_cells_sql()}),
counts AS (
    SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
           (SELECT count(*) FROM cells_pairs) AS n_cells,
           (SELECT count(*)
            FROM exact_pairs e JOIN cells_pairs c
              ON e.src_id = c.src_id AND e.tgt_id = c.tgt_id) AS n_hit
)
SELECT n_exact, n_cells, n_hit,
       CAST(CASE WHEN n_exact = 0 THEN 100
                 ELSE n_hit * 100 // n_exact END AS BIGINT) AS recall_pct,
       CAST(CASE WHEN n_cells = 0 THEN 100
                 ELSE n_hit * 100 // n_cells END AS BIGINT) AS precision_pct
FROM counts
"""


#: --- Bitext mining over sign-LSH multiprobe candidates (r16, the
#: VERDICT r15 #1 swap) -----------------------------------------------
#:
#: The r15 decomposition (SWEEP_R15.json `bitext_decomposition_sf0.4`)
#: proved the kmeans-cells tier's recall collapse (96/58/22% at
#: n=500/2k/8k) is 100% CANDIDATE COVERAGE: of 4329 exact pairs only
#: 978 were candidates at nprobe 8 — and nprobe 32 bought 1064, i.e.
#: saturation — while every covered pair survived the margin tail
#: unchanged (978 = 978 = 978 through rank filter and margin).  At
#: pair similarity ~0.5 in 64 dims, distance-to-centroid rankings
#: decorrelate: coarse cells carry no co-location signal for
#: moderately-similar pairs.  Sign-LSH buckets do BY CONSTRUCTION —
#: a pair at angle theta collides per table with probability
#: p1^b (p1 = 1 - theta/pi), amplified b-fold by Hamming-1 multiprobe
#: — so the r16 entry generates candidates with the near-dup tier's
#: validated machinery and reuses the provably lossless margin tail.
#: Measured: the r15 in-engine validation read 89/85/87% at
#: n=500/2k/8k and 84% sampled at 20k (derivation margin 5) — FLAT
#: across 40x where cells decay, at comparable wall; the shipped
#: margin-7 config reads 89/90 at sf0.01/sf0.1 (see the margin note
#: below) with the same flat shape.
#:
#: Sizing, all data-derived (the near-dup playbook):
#: - planes: `lsh_planes_for(n_tgt, OCC)` on the TARGET-side count
#:   (the indexed side of the probe join), occupancy budget 32;
#: - tables: `lsh_tables_by_planes` at the miner's DESIGN-POINT pair
#:   similarity (0.5 — the regime the decomposition showed cells
#:   cannot cover) and the declared recall target + model-error
#:   margin, per plane count: 2 at b=3, 5 at b=5, 9 at b=7, 17 at
#:   b=9 (pytest-pinned).  Margin 7 (vs the near-dup tier's 5): the
#:   union model's at-threshold assumption overestimates more for a
#:   miner whose exact pairs SPAN a similarity band than for a
#:   thresholded pair set — measured at sf0.1, margin 5 (b=5/T=4)
#:   read 84% against the 85 floor while margin 7 (T=5) reads 90/91
#:   recall/precision.
BITEXT_LSH_OCC = 32
BITEXT_LSH_MIN_PLANES = 2
BITEXT_LSH_MAX_PLANES = 24
BITEXT_LSH_DESIGN_SIM = 0.5
BITEXT_LSH_TARGET_RECALL_PCT = 85
BITEXT_LSH_DERIVATION_MARGIN_PCT = 7
BITEXT_LSH_PROBE_BITS = 1
BITEXT_LSH_MAX_TABLES = 32
BITEXT_LSH_T_BY_B = similarity.lsh_tables_by_planes(
    BITEXT_LSH_DESIGN_SIM,
    BITEXT_LSH_TARGET_RECALL_PCT + BITEXT_LSH_DERIVATION_MARGIN_PCT,
    probe_bits=BITEXT_LSH_PROBE_BITS,
    min_planes=BITEXT_LSH_MIN_PLANES,
    max_planes=BITEXT_LSH_MAX_PLANES,
    max_tables=BITEXT_LSH_MAX_TABLES,
)
#: r17 adaptive plan (same escalation as NEARDUP_LSH_PLAN, at the
#: bitext design point 0.5/92): identical to BITEXT_LSH_T_BY_B
#: through b=10 — the whole parity/bench range (sf0.01 b=3, sf0.1
#: b=5, sf1 b=9) keeps its r16 configuration bit-for-bit — then
#: Hamming-<=2 from b=11 (~65k target vectors), where Hamming-1
#: would need 33 tables: b=11 -> (10, 2), b=12 -> (13, 2).  The r16
#: 100k/side wall ran clamped at (b=12, T=32, H1); the adaptive
#: config is both cheaper (13 tables) and certified.
#: BITEXT_LSH_T_BY_B stays for r16 scale-script provenance.
BITEXT_LSH_PLAN = similarity.lsh_adaptive_plan(
    BITEXT_LSH_DESIGN_SIM,
    BITEXT_LSH_TARGET_RECALL_PCT + BITEXT_LSH_DERIVATION_MARGIN_PCT,
    base_probe_bits=BITEXT_LSH_PROBE_BITS,
    max_probe_bits=2,
    min_planes=BITEXT_LSH_MIN_PLANES,
    max_planes=BITEXT_LSH_MAX_PLANES,
    max_tables=BITEXT_LSH_MAX_TABLES,
)


def bitext_margin_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin bitext mining over sign-LSH Hamming-1 multiprobe
    candidates — THE scale path for bitext mining (VERDICT r15 #1;
    see the constants block above for the decomposition evidence and
    the measured flat recall curve).  The kmeans-cells entry stays in
    the catalog as the coarse-quantization audit story; this entry is
    the miner a 100 TB run should use.

    Candidates via :func:`functions.similarity.margin_bitext_pairs_lsh`:
    one :func:`lsh_signatures` matmul pass per side (map-only), the
    source side exploded (1+b)-fold by Hamming-1 probes (and the
    target side too when the adaptive plan escalates to Hamming-<=2,
    b >= 11), vectors+norms attached to the signature rows, then one
    (table_id, sig) exchange into the per-bucket GEMM scorer
    (:func:`functions.similarity.lsh_bucket_gemm_scored`, r17 —
    neither corpus broadcast, candidate pairs never materialized
    JVM-side), a per-pair max(cos_q) dedupe over the scored triples
    (cos_q is deterministic per pair up to GEMM ulps; the dedupe
    keys on the pair, so multiplicity into the windows is exactly 1
    — the same pair set the r16 bucket-join-then-distinct produced),
    and the decomposition-proven-lossless margin tail
    (:func:`functions.similarity._margin_from_scored`).  All capacity
    constants derive from declared budgets + one parquet-footer count;
    the DuckDB oracle replays plane derivation (mask trick), the
    adaptive (tables, probe level) plan (guarded UNION branches +
    CASEs over b) and both sides' probe explodes (xor CTEs)
    exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    n_tgt = tgt.count()
    nb = similarity.lsh_planes_for(
        n_tgt, BITEXT_LSH_OCC,
        min_planes=BITEXT_LSH_MIN_PLANES, max_planes=BITEXT_LSH_MAX_PLANES,
    )
    nt, npb = similarity.lsh_plan_checked(BITEXT_LSH_PLAN, nb)
    return similarity.margin_bitext_pairs_lsh(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
        n_planes=nb,
        n_tables=nt,
        dim=EMB_DIM,
        probe_bits=npb,
    )


def _bitext_lsh_oracle() -> str:
    """Replays the full LSH-candidate bitext pipeline in SQL — the
    near-dup replay pattern applied to a two-corpus miner:

    - plane count: derived from the TARGET-side ``count(*)`` with the
      identical integer rule as ``lsh_planes_for``; signatures are the
      MAX_PLANES prefix-stable family masked ``sig % 2^b``;
    - table count AND probe level: MAX_TABLES signature branches,
      each guarded by ``WHERE {t} < (SELECT t FROM params)`` with
      (t, pb) CASE-looked-up from b (branches past the derived count
      constant-fold empty);
    - adaptive multiprobe (r17): the source side unions each
      signature with its b one-bit flips whenever pb >= 1, and the
      TARGET side does the same whenever pb = 2 — the symmetric
      radius-1 split covering Hamming-<=2 sig pairs;
    - margin tail: the BITEXT_MARGIN_ORACLE windows verbatim over the
      candidate pairs."""
    table_sigs = []
    for t in range(BITEXT_LSH_MAX_TABLES):
        planes = similarity.deterministic_planes(
            BITEXT_LSH_MAX_PLANES, EMB_DIM, t
        )
        bits = " + ".join(
            f"CASE WHEN list_inner_product(e, {plane!r}::DOUBLE[]) >= 0 THEN {1 << p} ELSE 0 END"
            for p, plane in enumerate(planes)
        )
        table_sigs.append(
            f"SELECT vec_id, {t} AS table_id,"
            f" ({bits}) % (SELECT m FROM params) AS sig FROM v"
            f" WHERE {t} < (SELECT t FROM params)"
        )
    signed = "\n    UNION ALL\n    ".join(table_sigs)
    t_case = " ".join(
        f"WHEN pb.b = {b} THEN {t}"
        for b, (t, _pbits, _clamped) in sorted(BITEXT_LSH_PLAN.by_b.items())
    )
    pb_case = " ".join(
        f"WHEN pb.b = {b} THEN {pbits}"
        for b, (_t, pbits, _clamped) in sorted(BITEXT_LSH_PLAN.by_b.items())
    )
    return f"""
WITH pb AS (
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {BITEXT_LSH_OCC} >= nn.n
                 THEN g.b END),
        {BITEXT_LSH_MAX_PLANES}) AS b
    FROM generate_series({BITEXT_LSH_MIN_PLANES}, {BITEXT_LSH_MAX_PLANES}) AS g(b),
         (SELECT count(*) AS n FROM embeddings WHERE vec_id % 2 = 1) nn
), params AS (
    SELECT (CAST(1 AS BIGINT) << pb.b) AS m,
           pb.b AS b,
           (CASE {t_case} END) AS t,
           (CASE {pb_case} END) AS pbits
    FROM pb
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), signed AS (
    {signed}
), sprobe AS (
    SELECT vec_id, table_id,
           CASE WHEN g.p < 0 THEN sig
                ELSE xor(sig, (CAST(1 AS BIGINT) << g.p)) END AS sig
    FROM signed,
         generate_series(-1, {BITEXT_LSH_MAX_PLANES - 1}) AS g(p)
    WHERE vec_id % 2 = 0
      AND g.p < (SELECT CASE WHEN pbits >= 1 THEN b ELSE 0 END FROM params)
), tprobe AS (
    SELECT vec_id, table_id,
           CASE WHEN g.p < 0 THEN sig
                ELSE xor(sig, (CAST(1 AS BIGINT) << g.p)) END AS sig
    FROM signed,
         generate_series(-1, {BITEXT_LSH_MAX_PLANES - 1}) AS g(p)
    WHERE vec_id % 2 = 1
      AND g.p < (SELECT CASE WHEN pbits = 2 THEN b ELSE 0 END FROM params)
), cand AS (
    SELECT DISTINCT sp.vec_id AS src_id, tg.vec_id AS tgt_id
    FROM sprobe sp
    JOIN tprobe tg ON tg.table_id = sp.table_id AND tg.sig = sp.sig
), scored AS (
    SELECT src_id, tgt_id,
           CAST(floor(list_inner_product(s.e, t.e) / (s.nrm * t.nrm)
                      * 1000000 + 0.5) AS BIGINT) AS cos_q
    FROM cand
    JOIN v s ON s.vec_id = src_id
    JOIN v t ON t.vec_id = tgt_id
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos_q DESC, tgt_id ASC) AS rank_x,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos_q DESC, src_id ASC) AS rank_y
    FROM scored
), sums AS (
    SELECT *,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY src_id) AS sum_x,
           sum(CASE WHEN rank_x <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY src_id) AS cnt_x,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN cos_q END)
               OVER (PARTITION BY tgt_id) AS sum_y,
           sum(CASE WHEN rank_y <= {BITEXT_K} THEN 1 END)
               OVER (PARTITION BY tgt_id) AS cnt_y
    FROM ranked
), margins AS (
    SELECT src_id, tgt_id, cos_q,
           round(2.0 * cos_q
                 / (sum_x * 1.0 / cnt_x + sum_y * 1.0 / cnt_y), 6) AS margin
    FROM sums
    WHERE rank_x <= {BITEXT_K} AND rank_y <= {BITEXT_K}
)
SELECT src_id, tgt_id, cos_q, margin
FROM margins
WHERE margin > {BITEXT_MARGIN!r}
"""


def bitext_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the LSH-candidate bitext tier vs the exact
    tier — same schema as bitext_cells_recall_audit and
    bitext_kmeans_recall_audit so the three tiers compare 1:1 (the
    r16 acceptance row for the VERDICT r15 #1 swap: >= 85 at sf0.1
    where the kmeans tier reads 58).  Both tiers deterministic, so
    DuckDB replays the audit to the integer."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    exact = similarity.margin_bitext_pairs(
        src, tgt, "vec_id", "embedding",
        k=BITEXT_K, margin_threshold=BITEXT_MARGIN,
    ).select("src_id", "tgt_id")
    lsh = bitext_margin_mining_lsh(spark, sf_dir).select("src_id", "tgt_id")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = exact.join(lsh, ["src_id", "tgt_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        ne.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            # empty-tier guard (ADVICE r13): degenerate cases defined
            # (no exact pairs => recall 100; no mined => precision 100)
            F.expr(
                "CASE WHEN n_exact = 0 THEN 100"
                " ELSE n_hit * 100 div n_exact END"
            ).cast("long").alias("recall_pct"),
            F.expr(
                "CASE WHEN n_lsh = 0 THEN 100"
                " ELSE n_hit * 100 div n_lsh END"
            ).cast("long").alias("precision_pct"),
        )
    )


def _bitext_lsh_recall_oracle() -> str:
    return f"""
WITH exact_pairs AS ({BITEXT_MARGIN_ORACLE}),
lsh_pairs AS ({_bitext_lsh_oracle()}),
counts AS (
    SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
           (SELECT count(*) FROM lsh_pairs) AS n_lsh,
           (SELECT count(*)
            FROM exact_pairs e JOIN lsh_pairs l
              ON e.src_id = l.src_id AND e.tgt_id = l.tgt_id) AS n_hit
)
SELECT n_exact, n_lsh, n_hit,
       CAST(CASE WHEN n_exact = 0 THEN 100
                 ELSE n_hit * 100 // n_exact END AS BIGINT) AS recall_pct,
       CAST(CASE WHEN n_lsh = 0 THEN 100
                 ELSE n_hit * 100 // n_lsh END AS BIGINT) AS precision_pct
FROM counts
"""


HARDNEG_NPROBE = 2
#: Self-sizing cell count (r14, extending VERDICT r13 #1 to the
#: hard-negative tier): planes derived from the corpus count at a
#: target per-cell occupancy, so per-probe candidate volume
#: (nprobe x n / 2^planes) stays FLAT as the corpus grows instead of
#: linear.  OCC=64 reproduces the r13 3-plane config at the 500-vector
#: parity corpora (5 planes at sf0.1's 2000).
HARDNEG_CELL_OCC = 64
HARDNEG_MIN_PLANES = 2
#: 24 (r16, closing VERDICT r15 #3): the same ceiling lift the top-k
#: and near-dup families got in r15 — the SQL replay inlines
#: MAX_PLANES hyperplanes and masks sig % 2^b down, so this constant
#: IS the self-sizing ceiling.  At 12 the clamp bound at ~2^12 x 64
#: ~= 262k vectors; 24 moves it to ~2^24 x 64 ~= 1.07B.  Engine
#: behavior below the old ceiling is IDENTICAL (the derivation
#: returns the same b) — only the oracle text changes; the plane
#: family's prefix-stability is pytest-pinned.
HARDNEG_MAX_PLANES = 24


def hard_negative_mining_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-routed scale shape of hard_negative_mining (VERDICT
    r12 #3): corpus vectors carry a label-INDEPENDENT sign-LSH cell id
    (the class label is the exclusion key here, so it cannot double
    as the IVF cell), per-cell centroids route each probe to its
    nprobe nearest cells, and candidates are the same-cell pairs via
    a plain shuffle equi-join — no broadcast of the probe set — then
    the identical different-label / false-negative-cap / top-k tail
    as the exact tier (:func:`functions.similarity.hard_negatives_cells`).

    The plane count self-sizes from the corpus count
    (:func:`functions.similarity.lsh_planes_for`, occupancy
    ``HARDNEG_CELL_OCC``) — the oracle replays the derivation with the
    mask trick (MAX_PLANES prefix-stable planes inlined, cell id
    masked to the count-derived bit width), exactly like the
    embedding near-dup entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")  # footer, no count job (r19)
    nb = similarity.lsh_planes_for(
        n, HARDNEG_CELL_OCC,
        min_planes=HARDNEG_MIN_PLANES, max_planes=HARDNEG_MAX_PLANES,
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.hard_negatives_cells(
        emb, probes, "vec_id", "embedding", "label",
        dim=EMB_DIM, k=TOPK_K, max_sim=HARDNEG_MAX_SIM,
        nprobe=HARDNEG_NPROBE, n_planes=nb,
    )


def _hardneg_cells_oracle() -> str:
    """Replays the full cell-routed pipeline in SQL: the sign-LSH cell
    bits use the SAME md5-derived hyperplane constants
    (similarity.deterministic_planes), the centroid/routing CTEs are
    the _ivf_oracle pattern grouped by cell instead of label.  The
    plane count is derived from ``count(*)`` in the params CTE with
    the same integer rule as ``lsh_planes_for`` and the cell id is the
    MAX_PLANES signature masked down (prefix-stable family, so the
    masked signature IS the derived-plane cell id)."""
    planes = similarity.deterministic_planes(HARDNEG_MAX_PLANES, EMB_DIM, 0)
    bits = " + ".join(
        f"CASE WHEN list_inner_product(e, {plane!r}::DOUBLE[]) >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH params AS (
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {HARDNEG_CELL_OCC} >= nn.n
                 THEN (CAST(1 AS BIGINT) << g.b) END),
        (CAST(1 AS BIGINT) << {HARDNEG_MAX_PLANES})) AS m
    FROM generate_series({HARDNEG_MIN_PLANES}, {HARDNEG_MAX_PLANES}) AS g(b),
         (SELECT count(*) AS n FROM embeddings) nn
), v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), cells AS (
    SELECT vec_id, label, e, nrm,
           ({bits}) % (SELECT m FROM params) AS cell FROM v
), cent AS (
    SELECT cell,
           list(round(avg_val, 6) ORDER BY i) AS centroid
    FROM (
        SELECT cell, i, avg(e[i]) AS avg_val
        FROM cells, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY cell, i
    )
    GROUP BY cell
), probes AS (
    SELECT vec_id AS query_id, label AS query_label, e AS qv, nrm AS qn
    FROM cells WHERE vec_id < {N_PROBES}
), routed AS (
    -- zero-norm guard mirrors the operator: cosine only when both
    -- norms are positive, else the -2.0 sentinel (below any real
    -- cosine) so ties fall to cell-ascending order deterministically
    SELECT query_id, query_label, qv, qn, cell,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY CASE WHEN qn * sqrt(list_inner_product(centroid, centroid)) > 0
                             THEN round(list_inner_product(qv, centroid)
                                        / (qn * sqrt(list_inner_product(centroid, centroid))), 6)
                             ELSE -2.0 END DESC,
                        cell ASC
           ) AS r
    FROM probes, cent
), probe_cells AS (
    SELECT query_id, query_label, qv, qn, cell FROM routed WHERE r <= {HARDNEG_NPROBE}
), scored AS (
    SELECT p.query_id, p.query_label,
           c.vec_id AS neighbor_id, c.label AS neighbor_label,
           round(list_inner_product(p.qv, c.e) / (p.qn * c.nrm), 6) AS sim
    FROM probe_cells p
    JOIN cells c ON c.cell = p.cell AND c.label <> p.query_label
), capped AS (
    SELECT * FROM scored WHERE sim < {HARDNEG_MAX_SIM!r}
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM capped
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= {TOPK_K}
"""


def hardneg_cells_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall of the cell-routed hard-negative tier against
    the exact tier — completes the audit symmetry (every approximate
    tier in the catalog carries an engine-exact recall audit: IVF,
    LSH, bitext cells, and now hard-negative cells).  Negatives only
    count as hits if the cells tier surfaced the SAME neighbor id;
    both tiers are deterministic, so DuckDB replays the recall to the
    integer.  At 100 TB this is the nprobe/n_planes tuning loop for
    contrastive-data mining runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    exact = similarity.hard_negatives(
        emb, probes, "vec_id", "embedding", "label",
        k=TOPK_K, max_sim=HARDNEG_MAX_SIM,
    ).select("query_id", "neighbor_id")
    # the same entry being audited, self-sized planes included
    cells = hard_negative_mining_cells(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(cells, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 100 div n_exact").alias("recall_pct"),
        )
    )


def _hardneg_recall_oracle() -> str:
    return f"""
WITH exact_neg AS ({HARD_NEGATIVES_ORACLE}),
cells_neg AS ({_hardneg_cells_oracle()})
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
            // count(*) AS BIGINT) AS recall_pct
FROM exact_neg e
LEFT JOIN cells_neg c
  ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


#: --- Hard-negative mining over sign-LSH multiprobe candidates (r16,
#: VERDICT r15 #3: "extend Hamming-1 multiprobe + per-plane table
#: derivation to the hardneg tier") ------------------------------------
#:
#: The cells tier routes probes by CENTROID similarity over
#: single-table sign-LSH cells — centroids of hyperplane regions are
#: arbitrary geometry, the same decorrelation failure mode the bitext
#: decomposition quantified for k-means cells.  This tier generates
#: candidates with the validated multi-table Hamming-1 machinery
#: instead: per-table hit probability is a direct function of pair
#: angle, tables derive per plane count from the declared target.
#: Design-point similarity 0.45 — the BOTTOM of the negatives' band:
#: the k-th different-label negative on these corpora scores
#: ~0.45-0.55, and deriving T at the band's floor covers the whole
#: band (higher-sim pairs collide strictly more often).  Measured at
#: sf0.1 (b=6): design 0.5 gives T=6 and 80% recall; design 0.45
#: gives T=7 and 88% — the floor holds with one extra table.  Margin
#: 7 (like the bitext tier): at the parity corpus's b=3 the margin-5
#: derivation (T=2) read 84% against the 85 floor; margin 7 takes
#: T(3) to 3 while leaving T(6)=7 unchanged.
HARDNEG_LSH_OCC = 32
HARDNEG_LSH_MIN_PLANES = 2
HARDNEG_LSH_MAX_PLANES = 24
HARDNEG_LSH_DESIGN_SIM = 0.45
HARDNEG_LSH_TARGET_RECALL_PCT = 85
HARDNEG_LSH_DERIVATION_MARGIN_PCT = 7
HARDNEG_LSH_PROBE_BITS = 1
HARDNEG_LSH_MAX_TABLES = 32
HARDNEG_LSH_T_BY_B = similarity.lsh_tables_by_planes(
    HARDNEG_LSH_DESIGN_SIM,
    HARDNEG_LSH_TARGET_RECALL_PCT + HARDNEG_LSH_DERIVATION_MARGIN_PCT,
    probe_bits=HARDNEG_LSH_PROBE_BITS,
    min_planes=HARDNEG_LSH_MIN_PLANES,
    max_planes=HARDNEG_LSH_MAX_PLANES,
    max_tables=HARDNEG_LSH_MAX_TABLES,
)
#: r17 adaptive plan (the same escalation as NEARDUP/BITEXT_LSH_PLAN,
#: at the hardneg design point 0.45/92): identical to
#: HARDNEG_LSH_T_BY_B through b=10 — every parity/bench scale keeps
#: its r16 configuration bit-for-bit — then Hamming-<=2 from b=11
#: (~65k vectors), where Hamming-1 would need 42 tables.  Probes are
#: small by contract, so the engine realizes radius 2 as the
#: one-sided hamming2_probes explode (no flip tags needed).
HARDNEG_LSH_PLAN = similarity.lsh_adaptive_plan(
    HARDNEG_LSH_DESIGN_SIM,
    HARDNEG_LSH_TARGET_RECALL_PCT + HARDNEG_LSH_DERIVATION_MARGIN_PCT,
    base_probe_bits=HARDNEG_LSH_PROBE_BITS,
    max_probe_bits=2,
    min_planes=HARDNEG_LSH_MIN_PLANES,
    max_planes=HARDNEG_LSH_MAX_PLANES,
    max_tables=HARDNEG_LSH_MAX_TABLES,
)


def hard_negative_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining over sign-LSH Hamming-1 multiprobe
    candidates (:func:`functions.similarity.hard_negatives_lsh`) —
    the r16 scale tier; see the constants block above for why it
    supersedes centroid routing.  Plane count self-sizes from the
    corpus count, (table count, probe level) derive per plane count
    from the adaptive plan (r17 — Hamming-<=2 engages exactly where
    Hamming-1's table need would clamp), and the DuckDB oracle
    replays all four capacity dimensions (mask trick, guarded UNION
    branches, xor probe CTEs for both radii) plus the exact
    different-label / false-negative-cap / top-k tail."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")  # footer, no count job (r19)
    nb = similarity.lsh_planes_for(
        n, HARDNEG_LSH_OCC,
        min_planes=HARDNEG_LSH_MIN_PLANES, max_planes=HARDNEG_LSH_MAX_PLANES,
    )
    nt, npb = similarity.lsh_plan_checked(HARDNEG_LSH_PLAN, nb)
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.hard_negatives_lsh(
        emb, probes, "vec_id", "embedding", "label",
        dim=EMB_DIM, k=TOPK_K, max_sim=HARDNEG_MAX_SIM,
        n_planes=nb,
        n_tables=nt,
        probe_bits=npb,
    )


def _hardneg_lsh_oracle() -> str:
    """The near-dup replay pattern applied to hard-negative mining:
    plane count from ``count(*)`` (mask trick over the prefix-stable
    MAX_PLANES family), (table count, probe level) via CASE-over-b
    lookups with guarded UNION branches, xor probe CTEs on the probe
    side — one-bit flips whenever pb >= 1 plus two-bit flips whenever
    pb = 2 (the engine's one-sided radius-2 split) — then the exact
    HARD_NEGATIVES_ORACLE tail over the candidate pairs."""
    table_sigs = []
    for t in range(HARDNEG_LSH_MAX_TABLES):
        planes = similarity.deterministic_planes(
            HARDNEG_LSH_MAX_PLANES, EMB_DIM, t
        )
        bits = " + ".join(
            f"CASE WHEN list_inner_product(e, {plane!r}::DOUBLE[]) >= 0 THEN {1 << p} ELSE 0 END"
            for p, plane in enumerate(planes)
        )
        table_sigs.append(
            f"SELECT vec_id, {t} AS table_id,"
            f" ({bits}) % (SELECT m FROM params) AS sig FROM v"
            f" WHERE {t} < (SELECT t FROM params)"
        )
    signed = "\n    UNION ALL\n    ".join(table_sigs)
    t_case = " ".join(
        f"WHEN pb.b = {b} THEN {t}"
        for b, (t, _pbits, _clamped) in sorted(HARDNEG_LSH_PLAN.by_b.items())
    )
    pb_case = " ".join(
        f"WHEN pb.b = {b} THEN {pbits}"
        for b, (_t, pbits, _clamped) in sorted(HARDNEG_LSH_PLAN.by_b.items())
    )
    return f"""
WITH pb AS (
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {HARDNEG_LSH_OCC} >= nn.n
                 THEN g.b END),
        {HARDNEG_LSH_MAX_PLANES}) AS b
    FROM generate_series({HARDNEG_LSH_MIN_PLANES}, {HARDNEG_LSH_MAX_PLANES}) AS g(b),
         (SELECT count(*) AS n FROM embeddings) nn
), params AS (
    SELECT (CAST(1 AS BIGINT) << pb.b) AS m,
           pb.b AS b,
           (CASE {t_case} END) AS t,
           (CASE {pb_case} END) AS pbits
    FROM pb
), v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), signed AS (
    {signed}
), qprobe AS (
    SELECT vec_id, table_id,
           CASE WHEN g.p < 0 THEN sig
                ELSE xor(sig, (CAST(1 AS BIGINT) << g.p)) END AS sig
    FROM signed,
         generate_series(-1, {HARDNEG_LSH_MAX_PLANES - 1}) AS g(p)
    WHERE vec_id < {N_PROBES}
      AND g.p < (SELECT CASE WHEN pbits >= 1 THEN b ELSE 0 END FROM params)
), qprobe2 AS (
    SELECT vec_id, table_id,
           xor(sig, xor(CAST(1 AS BIGINT) << g.p,
                        CAST(1 AS BIGINT) << h.q)) AS sig
    FROM signed,
         generate_series(0, {HARDNEG_LSH_MAX_PLANES - 1}) AS g(p),
         generate_series(0, {HARDNEG_LSH_MAX_PLANES - 1}) AS h(q)
    WHERE vec_id < {N_PROBES}
      AND g.p < h.q
      AND h.q < (SELECT CASE WHEN pbits = 2 THEN b ELSE 0 END FROM params)
), cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM (SELECT * FROM qprobe UNION ALL SELECT * FROM qprobe2) q
    JOIN signed c ON c.table_id = q.table_id AND c.sig = q.sig
    WHERE c.vec_id <> q.vec_id
), scored AS (
    SELECT query_id, p.label AS query_label,
           neighbor_id, c.label AS neighbor_label,
           round(list_inner_product(p.e, c.e) / (p.nrm * c.nrm), 6) AS sim
    FROM cand
    JOIN v p ON p.vec_id = query_id
    JOIN v c ON c.vec_id = neighbor_id
    WHERE c.label <> p.label
), capped AS (
    SELECT * FROM scored WHERE sim < {HARDNEG_MAX_SIM!r}
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM capped
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= {TOPK_K}
"""


def hardneg_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall of the LSH-multiprobe hard-negative tier vs
    the exact tier — same schema as hardneg_cells_recall_audit so the
    two scale tiers compare row-for-row (the r16 acceptance rows for
    the VERDICT r15 #3 extension).  Deterministic both sides, DuckDB
    replays to the integer."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    exact = similarity.hard_negatives(
        emb, probes, "vec_id", "embedding", "label",
        k=TOPK_K, max_sim=HARDNEG_MAX_SIM,
    ).select("query_id", "neighbor_id")
    lsh = hard_negative_mining_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 100 div n_exact").alias("recall_pct"),
        )
    )


def _hardneg_lsh_recall_oracle() -> str:
    return f"""
WITH exact_neg AS ({HARD_NEGATIVES_ORACLE}),
lsh_neg AS ({_hardneg_lsh_oracle()})
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
            // count(*) AS BIGINT) AS recall_pct
FROM exact_neg e
LEFT JOIN lsh_neg l
  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def similarity_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy/Arrow physical strategy for the same logical query —
    shares the exact-cosine oracle (results are value-identical)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.cosine_topk_arrow(emb, probes, "vec_id", "embedding", k=TOPK_K)


#: Self-sizing (r14, same rule as the near-dup tier): planes derived
#: from the corpus count at a per-table bucket occupancy of
#: ``LSH_TOPK_OCC`` (declared next to LSH_TABLES, which divides by
#: it) — reproduces the 6-plane config at the 500-vector parity
#: corpora (8 planes at sf0.1's 2000) and keeps PER-PROBE candidate
#: volume (n_tables x occupancy) flat as the corpus grows.
LSH_TOPK_MIN_PLANES = 2
#: 24 (r15, lifting the r14 16-plane oracle-replay ceiling): the SQL
#: replay inlines MAX_PLANES hyperplanes per table and masks down, so
#: this constant IS the self-sizing ceiling — at 16 the clamp bound at
#: ~2^16 x occ ~= 0.5M vectors and occupancy resumed growing linearly
#: past it (VERDICT r14 #5).  24 moves the bound to ~2^24 x occ
#: (~134M vectors at occ 8); engine behavior below the old ceiling is
#: IDENTICAL (the derivation returns the same b), so only the oracle
#: text changes.  Prefix-stability of the plane family (pytest-pinned)
#: is what makes this a pure widening.
LSH_TOPK_MAX_PLANES = 24


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING tier: sign-LSH buckets + exact re-rank at a small
    probe count — stays on lsh_bucketed_topk's "broadcast" strategy
    (probe sigs broadcast, corpus never shuffles, candidates
    probe-bounded).  r18 measured the naive GEMM port of this entry
    1.7x SLOWER at sf0.1: with 10 probes the fold was never the wall,
    and the batch exchange moved the whole vector-carrying corpus arm
    to score a probe-bounded candidate set.  The GEMM strategy serves
    the BATCH regime instead (`similarity_lsh_knngraph`).

    Self-sizing n comes from the parquet FOOTER (``table_row_count``,
    VERDICT r18 #4) — the former ``emb.count()`` ran a separate
    full-scan job per entry; the oracle's count(*) computes the same
    number, so plane derivation is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    nb = similarity.lsh_planes_for(
        n, LSH_TOPK_OCC,
        min_planes=LSH_TOPK_MIN_PLANES, max_planes=LSH_TOPK_MAX_PLANES,
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.lsh_bucketed_topk(
        emb, probes, "vec_id", "embedding",
        k=TOPK_K, n_planes=nb, n_tables=LSH_TABLES, dim=EMB_DIM,
    )


def similarity_lsh_knngraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: the approximate k-NN GRAPH — every corpus vector
    probes (the training-data regime: graph-based dedup, connectivity
    features, diversity sampling).  This is the regime the r18 GEMM
    port of lsh_bucketed_topk exists for (VERDICT r17 #1): at
    probes ~ corpus the probe signature set no longer broadcasts and
    the per-candidate JVM fold is the measured CPU wall (the r16
    bitext numbers), so strategy="gemm" routes vectors through ONE
    (table, sig) hash exchange at storage type, scores each bucket's
    block with a numpy matmul, and emits only per-block row-wise
    top-k (kernel superset proof in lsh_bucketed_topk's docstring).
    Same self-sizing constants as the serving tier; same
    candidate-OVERSAMPLING quality contract (recall targeting is the
    miners' job — lsh_topk_overlap_audit records the serving tier's
    overlap so the contract can't silently drift).  Self-sizing n
    from the parquet footer (``table_row_count``, VERDICT r18 #4) —
    no separate count job."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    nb = similarity.lsh_planes_for(
        n, LSH_TOPK_OCC,
        min_planes=LSH_TOPK_MIN_PLANES, max_planes=LSH_TOPK_MAX_PLANES,
    )
    return similarity.lsh_bucketed_topk(
        emb, emb, "vec_id", "embedding",
        k=TOPK_K, n_planes=nb, n_tables=LSH_TABLES, dim=EMB_DIM,
        strategy="gemm",
    )


def similarity_lsh_knngraph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN edges over the batch ANN graph — the standard
    semantic-dedup / diversity-sampling graph primitive (an edge
    survives iff each endpoint is in the other's top-k; mutuality is
    the classic false-neighbor filter, same rule the bitext margin
    tail applies).  Composition, not a new kernel: self-join of the
    k-NN graph on the reversed pair, canonicalized id_a < id_b with
    the a->b direction's sim.  Scale shape: the graph is |corpus| x k
    NARROW rows, so the mutuality join is one pair-keyed equi-join —
    never touches vectors, never quadratic.

    The graph is materialized once: the naive self-join would run the
    whole GEMM tier twice (measured plan: 24 Exchanges vs 10 for the
    graph itself)."""
    g = materialize(similarity_lsh_knngraph(spark, sf_dir))
    rev = g.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    return (
        g.select("query_id", "neighbor_id", "sim")
        .join(rev, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "sim",
        )
    )


def _lsh_knngraph_mutual_oracle() -> str:
    return f"""
WITH knn AS ({_lsh_topk_oracle("")})
SELECT a.query_id AS id_a, a.neighbor_id AS id_b, a.sim
FROM knn a
JOIN knn b ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
WHERE a.query_id < a.neighbor_id
"""


def embedding_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dup clusters (Abbas et al. 2023 shape)
    over the batch ANN graph: mutual k-NN edges at/above the near-dup
    cosine threshold -> connected components -> canonical (min) id
    per clustered vector.  Composition of three existing scale ops —
    the GEMM k-NN graph, the mutuality join, and the min-label
    components loop (same machinery as `dedup_clusters`) — so the
    whole semantic-dedup pipeline never touches vectors after the
    one bucket exchange.

    Components use the large/small-star variant (r19): the
    SF10_SEMDEDUP_R19 decade audit caught label propagation
    exhausting its round budget on chained threshold graphs and
    silently returning unconverged labels — star converges in
    O(log n) rounds and is the 100 TB-correct default for this
    pipeline; outputs are identical on converged inputs
    (property-pinned)."""
    edges = similarity_lsh_knngraph_mutual(spark, sf_dir).filter(
        F.col("sim") >= COSINE_DUP_THRESHOLD
    )
    return dedup.connected_components(edges, algorithm="star").select(
        F.col("node").alias("vec_id"), "cluster_id"
    )


def _semdedup_clusters_oracle() -> str:
    mutual = _lsh_knngraph_mutual_oracle().strip()
    return f"""
WITH RECURSIVE mutual AS (
{mutual}
), edges AS (
    SELECT id_a, id_b FROM mutual WHERE sim >= {COSINE_DUP_THRESHOLD}
), sym AS (
    SELECT id_a AS src, id_b AS dst FROM edges
    UNION
    SELECT id_b AS src, id_a AS dst FROM edges
), reach(node, label) AS (
    SELECT src, src FROM sym
    UNION
    SELECT s.src, r.label
    FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT node AS vec_id, min(label) AS cluster_id
FROM reach
GROUP BY node
"""


def embedding_semdedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup KEEPER POLICY (VERDICT r18 #7 — the half of Abbas et
    al. 2023 the cluster entry alone lacks): per semantic-dup
    cluster, pick the ONE kept representative and flag every member.
    Quality proxy on the embeddings-only fixtures is the vector's L2
    norm (rounded to 6, the boundary-safe quantization every cosine
    entry uses), tie-broken on ascending vec_id; a text pipeline
    composes ``text.quality_score`` the same way — the policy is the
    (score DESC, id ASC) window, the proxy is a parameter of the
    pipeline, not of the shape.  The text near-dup path's
    ``dedup_cluster_canonical`` (keep-longest) is this same pattern
    over documents.

    Clusters come from the CERTIFIED path
    (`embedding_semdedup_certified`, r19) — the production
    semantic-dedup tier whose mutual-edge recall holds the near-dup
    floor at three measured decades — not the ANN-serving-tier
    composition (whose oversampling contract reads 0.3-0.4% edge
    recall at scale, SF*_SEMDEDUP_R19): a keeper policy is only as
    good as the clusters it keeps from.

    Plan shape: cluster assignment is |clustered| narrow rows; norms
    attach via one vec_id equi-join; rank and kept-id are TWO window
    functions over the SAME (cluster_id) partitioning — one shuffle,
    no self-join, vectors touched only in the norm projection of the
    embeddings scan."""
    from pyspark.sql.window import Window

    clusters = embedding_semdedup_certified(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        F.col("vec_id"),
        F.round(similarity.l2_norm(F.col("embedding")), 6).alias("norm_q"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("norm_q").desc(), F.col("vec_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        clusters.join(norms, "vec_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "kept_vec_id",
            F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).over(wc),
        )
        .select(
            "vec_id",
            "cluster_id",
            "kept_vec_id",
            (F.col("vec_id") == F.col("kept_vec_id")).alias("keep"),
        )
    )


def _semdedup_keepers_oracle() -> str:
    clusters = _semdedup_certified_oracle().strip()
    return f"""
WITH clusters AS (
{clusters}
), norms AS (
    SELECT vec_id,
           round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm_q
    FROM embeddings
), ranked AS (
    SELECT c.vec_id, c.cluster_id, n.norm_q,
           row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY n.norm_q DESC, c.vec_id ASC) AS rn
    FROM clusters c JOIN norms n ON n.vec_id = c.vec_id
)
SELECT r.vec_id, r.cluster_id, k.kept_vec_id,
       r.vec_id = k.kept_vec_id AS keep
FROM ranked r
JOIN (SELECT cluster_id, vec_id AS kept_vec_id FROM ranked WHERE rn = 1) k
  USING (cluster_id)
"""


def embedding_semdedup_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dup clusters with CERTIFIED edge recall — the
    production semantic-dedup path at scale (r19).

    The graph-composition entry (`embedding_semdedup_clusters`) rides
    the ANN serving tier, whose contract is candidate OVERSAMPLING,
    not recall (`lsh_topk_overlap_audit` records the gap); at decade
    scale its per-pair hit rate at the 0.45 dup threshold collapses
    (T=2 tables, no multiprobe — measured in SF*_SEMDEDUP_R19).  This
    entry derives the SAME logical object — mutual-k-NN edges at the
    dup threshold, min-label components — from the certified near-dup
    tier instead, whose >= 85%-recall-at-threshold floor is
    plan-derived and decade-measured (92.6% @ 1M, 93.0% @ 2M).

    The key identity making that possible: a neighbor BELOW the dup
    threshold can never outrank one at/above it under (sim DESC)
    ordering, so for every edge that survives the threshold filter,
    per-endpoint rank over the THRESHOLD PAIR SET equals global
    mutual-k-NN rank.  Mutual-k-NN-at-threshold is therefore
    computable exactly from `embedding_neardup_lsh_verified`'s
    output — no k-NN graph build, no second pass over vectors.

    Plan shape past the (already-certified) pair miner: symmetrize
    the canonical pairs (unionByName — map-side), ONE rank window per
    endpoint, then the mutuality test as a pair-keyed count
    (both directions rank <= k  <=>  the unordered pair appears
    twice) — two narrow shuffles, no self-join, vectors never
    re-touched.  Components are the large/small-star variant — at
    this tier's edge density the threshold graph chains far past
    label propagation's round budget (the SF10_SEMDEDUP_R19 audit
    measured the silent non-convergence this guards against)."""
    from pyspark.sql.window import Window

    pairs = embedding_neardup_lsh_verified(spark, sf_dir)
    # r19: symmetrize via explode — the unionByName form evaluated the
    # whole certified GEMM miner subtree once per union branch (Catalyst
    # does not dedupe a mapInPandas subtree); the 2-element struct-array
    # explode reads it exactly once.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.col("sim"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.col("sim"),
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.sim")
    w = Window.partitionBy("src").orderBy(
        F.col("sim").desc(), F.col("dst").asc()
    )
    ranked = sym.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_K
    )
    edges = (
        ranked.select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .select("id_a", "id_b")
    )
    return dedup.connected_components(edges, algorithm="star").select(
        F.col("node").alias("vec_id"), "cluster_id"
    )


def _semdedup_certified_oracle() -> str:
    pairs = _neardup_lsh_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
), symn AS (
    SELECT id_a AS src, id_b AS dst, sim FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst, sim FROM pairs
), ranked AS (
    SELECT src, dst,
           row_number() OVER (
               PARTITION BY src ORDER BY sim DESC, dst ASC) AS rnk
    FROM symn
), edges AS (
    SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b
    FROM ranked WHERE rnk <= {TOPK_K}
    GROUP BY 1, 2
    HAVING count(*) = 2
), sym AS (
    SELECT id_a AS src, id_b AS dst FROM edges
    UNION
    SELECT id_b AS src, id_a AS dst FROM edges
), reach(node, label) AS (
    SELECT src, src FROM sym
    UNION
    SELECT s.src, r.label
    FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT node AS vec_id, min(label) AS cluster_id
FROM reach
GROUP BY node
"""


def _lsh_topk_oracle(
    probe_pred: str = f"p.vec_id < {N_PROBES} AND ",
) -> str:
    """Sign-LSH oracle with the SAME md5-derived hyperplane constants
    (similarity.deterministic_planes), inlined as SQL arrays — the
    MAX_PLANES prefix-stable family masked down to the count-derived
    plane width (the self-sizing replay, same as the near-dup tier).
    ``probe_pred`` selects the probe side: the serving default limits
    probes to the first N_PROBES ids; the empty string is the batch
    k-NN-graph form (every vector probes)."""
    table_sigs = []
    for t in range(LSH_TABLES):
        planes = similarity.deterministic_planes(
            LSH_TOPK_MAX_PLANES, EMB_DIM, t
        )
        bits = " + ".join(
            f"CASE WHEN list_inner_product(e, {plane!r}::DOUBLE[]) >= 0 THEN {1 << p} ELSE 0 END"
            for p, plane in enumerate(planes)
        )
        table_sigs.append(
            f"SELECT vec_id, e, nrm, {t} AS table_id,"
            f" ({bits}) % (SELECT m FROM params) AS sig FROM v"
        )
    signed = "\n    UNION ALL\n    ".join(table_sigs)
    return f"""
WITH params AS (
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {LSH_TOPK_OCC} >= nn.n
                 THEN (CAST(1 AS BIGINT) << g.b) END),
        (CAST(1 AS BIGINT) << {LSH_TOPK_MAX_PLANES})) AS m
    FROM generate_series({LSH_TOPK_MIN_PLANES}, {LSH_TOPK_MAX_PLANES}) AS g(b),
         (SELECT count(*) AS n FROM embeddings) nn
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), signed AS (
    {signed}
), cand AS (
    SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM signed p
    JOIN signed c ON p.table_id = c.table_id AND p.sig = c.sig
    WHERE {probe_pred}c.vec_id <> p.vec_id
), scored AS (
    SELECT query_id, neighbor_id,
           round(list_inner_product(pq.e, cv.e) / (pq.nrm * cv.nrm), 6) AS sim
    FROM cand
    JOIN v pq ON pq.vec_id = query_id
    JOIN v cv ON cv.vec_id = neighbor_id
), ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
           sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOPK_K}
"""


def lsh_topk_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-top-k overlap of the sign-LSH top-k tier — the entry's
    QUALITY CONTRACT made audit-visible (VERDICT r15 #5): this tier's
    contract is cheap candidate OVERSAMPLING at per-probe cost
    constant in the corpus size (tables = ceil(FACTOR*k/occupancy),
    see the LSH_TOPK_CAND_FACTOR block), NOT top-k recall — recall
    targeting is owned by the IVF tier (learned cells + nprobe,
    ~90% on ann_recall_audit) and by the derived-table families where
    union recall is declared (near-dup, bitext-LSH, hardneg-LSH).
    The r15 sweep measured 2-8% exact-top-5 overlap at sf0.1 on the
    near-uniform synthetic embeddings; this row records that number
    in the oracle-checked catalog so the contract can never silently
    regress into being mistaken for a recall claim.  Deterministic
    both sides — DuckDB replays to the integer."""
    exact = similarity_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = similarity_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 100 div n_exact").alias("overlap_pct"),
        )
    )


def _lsh_topk_overlap_oracle() -> str:
    return f"""
WITH exact_topk AS ({COSINE_TOPK_ORACLE}),
lsh_topk AS ({_lsh_topk_oracle()})
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
            // count(*) AS BIGINT) AS overlap_pct
FROM exact_topk e
LEFT JOIN lsh_topk l
  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


COSINE_DUP_THRESHOLD = 0.45


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=COSINE_DUP_THRESHOLD
    )


EMBEDDING_NEARDUP_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS sim
FROM v a
JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {COSINE_DUP_THRESHOLD}
"""


#: Self-sizing capacity (VERDICT r13 #1): the plane count is DERIVED
#: from the corpus cardinality per run — smallest b in [MIN, MAX] with
#: 2^b * OCC >= n, i.e. expected per-table bucket occupancy at most
#: OCC — so the within-bucket quadratic verify term stays flat as the
#: corpus grows (planes ~ log2(n); the pinned 4-plane config measured
#: 48x wall for 10x data at sf1).  OCC=32 reproduces 4 planes at the
#: sf0.01 500-vector corpus, 6 at sf0.1's 2000, 10 at a 20k sf1.
NEARDUP_LSH_OCC = 32
NEARDUP_LSH_MIN_PLANES = 2
#: 24 (r15): same ceiling lift as LSH_TOPK_MAX_PLANES — the clamp now
#: binds at ~2^24 x 32 ~= 537M vectors instead of ~2M.
NEARDUP_LSH_MAX_PLANES = 24
#: Table count DERIVED from a declared recall target (VERDICT r14 #4)
#: — and, since the r15 sf1 measurement, derived PER PLANE COUNT with
#: Hamming-1 multiprobe.  The history, because each step is measured:
#:
#: 1. r14 audited the per-table hit rate at sf0.1's derived 6 planes
#:    (42/70/87% union recall at T=8/16/24 => ~7%/table), and
#:    `n_tables_for(85, 7)` = 27 met the 85% target there (measured
#:    89%).  But the audited p is a function of b: pairs at the
#:    threshold agree with one hyperplane with probability
#:    p1 = 1 - acos(0.45)/pi ~= 0.649, so p ~= p1^b (7.5% predicted
#:    at b=6 — matching the audit) DECAYS as planes self-size with
#:    the corpus: the same T=27 read 35.7% recall at sf1's b=10
#:    (sampled exact arm, scripts/r15_sf1_recall.py).  A fixed T
#:    cannot hold a recall target across scales.
#: 2. Hamming-1 multiprobe closes it: probing each table's b adjacent
#:    buckets lifts the per-table rate to p1^b + b*p1^(b-1)*(1-p1) —
#:    a b-fold amplifier that costs candidate volume only, NOT a
#:    second signature pass (the n log n wall-clock term the sf1
#:    bench showed dominating at 11.6x/10x).  T then derives per b
#:    (`similarity.lsh_tables_by_planes`, at floor + margin): 3 at
#:    b=4 (parity corpora), 7 at b=6 (sf0.1, was 27), 27 at b=10
#:    (sf1), clamping at 32 from b=11 (~65k vectors at occ 32) —
#:    past the clamp the target degrades gracefully and the audit
#:    row says by how much (the residual contract: one bucket's
#:    occupancy, and with it the verify term, stays flat; recall is
#:    traded, never cost blow-up).
#:
#: The lookup is inlined into BOTH the engine call and the SQL replay
#: (a CASE over the count-derived b, like the plane arrays), so
#: cross-engine parity never re-derives the float geometry.
NEARDUP_LSH_TARGET_RECALL_PCT = 85
NEARDUP_LSH_PROBE_BITS = 1
NEARDUP_LSH_MAX_TABLES = 32
#: Model-error margin: the union model assumes independent tables and
#: at-threshold pairs; measured recall runs a few points under it
#: (r15: 81 measured vs 85.2 predicted at b=6/T=5), so the TABLE
#: DERIVATION aims margin points above the declared acceptance floor
#: (derive at 90 -> measured 88/89 at sf0.1/sf1, floor 85 held).
NEARDUP_LSH_DERIVATION_MARGIN_PCT = 5
NEARDUP_LSH_T_BY_B = similarity.lsh_tables_by_planes(
    COSINE_DUP_THRESHOLD,
    NEARDUP_LSH_TARGET_RECALL_PCT + NEARDUP_LSH_DERIVATION_MARGIN_PCT,
    probe_bits=NEARDUP_LSH_PROBE_BITS,
    min_planes=NEARDUP_LSH_MIN_PLANES,
    max_planes=NEARDUP_LSH_MAX_PLANES,
    max_tables=NEARDUP_LSH_MAX_TABLES,
)
#: r17 (VERDICT r16 #1): the ADAPTIVE (tables, probe_bits) plan — the
#: shipped derivation.  Identical to NEARDUP_LSH_T_BY_B through b=10
#: (probe_bits stays at the Hamming-1 base wherever its union-rule
#: table count fits the clamp), then ESCALATES to Hamming-<=2 coverage
#: exactly where Hamming-1 would clamp: b=11 needs 38 tables at H1 but
#: 11 at H<=2; b=13 — the r16 third-decade probe that measured 66.6%
#: recall against the 85 floor (SF10_NEARDUP_R16.json) — needs 79 vs
#: 20.  The certified region extends from b<=10 (~65k vectors at
#: occupancy 32) to b<=14 (~524k); only b>=15 carries clamped=True,
#: where lsh_plan_checked's warning is a TRUE positive by construction
#: (ADVICE r16 #1/#2: exact-fit silent, ceiling bundled with the
#: plan).  NEARDUP_LSH_T_BY_B stays for the r15/r16 scale-script
#: provenance; new derivations read the plan.
NEARDUP_LSH_PLAN = similarity.lsh_adaptive_plan(
    COSINE_DUP_THRESHOLD,
    NEARDUP_LSH_TARGET_RECALL_PCT + NEARDUP_LSH_DERIVATION_MARGIN_PCT,
    base_probe_bits=NEARDUP_LSH_PROBE_BITS,
    max_probe_bits=2,
    min_planes=NEARDUP_LSH_MIN_PLANES,
    max_planes=NEARDUP_LSH_MAX_PLANES,
    max_tables=NEARDUP_LSH_MAX_TABLES,
)
#: Forced-Hamming-<=2 plan for the probe2 parity entry: base=2 makes
#: every plane count derive its tables at radius-2 coverage, so the
#: symmetric-explode + per-bucket-GEMM code path (which the adaptive
#: plan only engages past ~65k vectors) is exercised — and DuckDB
#: oracle-checked — at driver parity scale every round.
NEARDUP_LSH_PROBE2_PLAN = similarity.lsh_adaptive_plan(
    COSINE_DUP_THRESHOLD,
    NEARDUP_LSH_TARGET_RECALL_PCT + NEARDUP_LSH_DERIVATION_MARGIN_PCT,
    base_probe_bits=2,
    max_probe_bits=2,
    min_planes=NEARDUP_LSH_MIN_PLANES,
    max_planes=NEARDUP_LSH_MAX_PLANES,
    max_tables=NEARDUP_LSH_MAX_TABLES,
)


def embedding_neardup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup (VERDICT r1 §What's wrong
    #3): sign-LSH bucket candidates -> exact cosine verify.  The exact
    triangular self-join (:func:`embedding_neardup_pairs`) stays in
    the catalog as the sf0.01 verify stage only.

    Capacity is SELF-SIZING (VERDICT r13 #1): ``n_planes`` comes from
    :func:`functions.similarity.lsh_planes_for` on the observed corpus
    count — one driver-side scalar (a parquet-footer count, the same
    bounded sync discipline as PageRank's N) — so occupancy, and with
    it the only quadratic term, no longer grows with the corpus.  The
    derivation is pure integer arithmetic and the hyperplane family is
    prefix-stable (plane p depends only on (table, p, dim)), so the
    DuckDB oracle replays it exactly: it inlines MAX_PLANES planes per
    table and masks each signature down to the SQL-derived plane
    count (``sig % 2^b`` == the b-plane signature, bit weights being
    distinct powers of two).

    Tables AND probe level come from the adaptive plan (r17, VERDICT
    r16 #1): ``NEARDUP_LSH_PLAN`` escalates to Hamming-<=2 coverage
    exactly where the Hamming-1 table need exceeds the 32-table clamp
    (b >= 11, ~65k vectors), holding the certified 85% recall floor
    to ~524k vectors instead of ~65k; the oracle replays the
    escalation via a probe-level CASE over the derived b that gates a
    symmetric one-bit-flip explode on BOTH join arms.

    Self-sizing n from the parquet footer (``table_row_count``,
    VERDICT r18 #4) — no separate count job; the oracle's count(*)
    computes the same number."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    nb = similarity.lsh_planes_for(
        n, NEARDUP_LSH_OCC,
        min_planes=NEARDUP_LSH_MIN_PLANES, max_planes=NEARDUP_LSH_MAX_PLANES,
    )
    nt, npb = similarity.lsh_plan_checked(NEARDUP_LSH_PLAN, nb)
    return similarity.cosine_neardup_lsh_verified(
        emb, "vec_id", "embedding",
        threshold=COSINE_DUP_THRESHOLD,
        n_planes=nb,
        n_tables=nt,
        dim=EMB_DIM,
        probe_bits=npb,
    )


def embedding_neardup_lsh_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FORCED Hamming-<=2 variant of the near-dup LSH tier — the
    radius-2 machinery (symmetric one-bit-flip explode on both arms +
    per-bucket GEMM verify, :func:`functions.similarity.
    lsh_bucket_gemm_scored`) pinned to driver parity scale.  The
    adaptive plan only engages this path past ~65k vectors, which no
    sf0.01 parity corpus reaches, so without this entry the scale
    path that rescues recall past the table clamp (VERDICT r16 #1:
    66.6% measured vs the 85 floor at 200k vectors under Hamming-1)
    would never meet the DuckDB oracle.  Tables derive from the same
    union rule AT radius-2 hit rates (``NEARDUP_LSH_PROBE2_PLAN``),
    so this is the miner exactly as a >65k-vector corpus runs it,
    not a test double.  Self-sizing n from the parquet footer
    (``table_row_count``, VERDICT r18 #4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    nb = similarity.lsh_planes_for(
        n, NEARDUP_LSH_OCC,
        min_planes=NEARDUP_LSH_MIN_PLANES, max_planes=NEARDUP_LSH_MAX_PLANES,
    )
    nt, npb = similarity.lsh_plan_checked(NEARDUP_LSH_PROBE2_PLAN, nb)
    return similarity.cosine_neardup_lsh_verified(
        emb, "vec_id", "embedding",
        threshold=COSINE_DUP_THRESHOLD,
        n_planes=nb,
        n_tables=nt,
        dim=EMB_DIM,
        probe_bits=npb,
    )


def _neardup_lsh_oracle(plan=None) -> str:
    """Mirrors the two-stage operator with the SAME md5-derived
    hyperplane constants inlined as SQL arrays, so the LSH candidate
    mechanics (not just the verify filter) are oracle-checked.

    Self-sizing replay, all three capacity dimensions data-derived:

    - plane count: the SQL inlines the full MAX_PLANES-plane
      signature per table, derives b from ``count(*)`` with the
      IDENTICAL integer rule as ``lsh_planes_for`` and masks
      ``sig % 2^b`` — the hyperplane family is prefix-stable, so the
      masked MAX-plane signature IS the b-plane signature;
    - table count AND probe level: MAX_TABLES branches are inlined,
      each guarded by ``WHERE {{t}} < (SELECT t FROM params)`` with
      (t, pb) looked up from b via the inlined adaptive-plan CASEs —
      branches past the derived count constant-fold to empty;
    - adaptive multiprobe (r17): the probe side unions the original
      signature with its b one-bit flips whenever pb >= 1, and the
      BUILD side does the same whenever pb = 2 — the symmetric
      radius-1 split covering Hamming-<=2 sig pairs through the
      bucket where each side flipped one differing bit, exactly the
      engine's physical strategy."""
    if plan is None:
        plan = NEARDUP_LSH_PLAN
    table_sigs = []
    for t in range(NEARDUP_LSH_MAX_TABLES):
        planes = similarity.deterministic_planes(
            NEARDUP_LSH_MAX_PLANES, EMB_DIM, t
        )
        bits = " + ".join(
            f"CASE WHEN list_inner_product(e, {plane!r}::DOUBLE[]) >= 0 THEN {1 << p} ELSE 0 END"
            for p, plane in enumerate(planes)
        )
        table_sigs.append(
            f"SELECT vec_id, {t} AS table_id,"
            f" ({bits}) % (SELECT m FROM params) AS sig FROM v"
            f" WHERE {t} < (SELECT t FROM params)"
        )
    signed = "\n    UNION ALL\n    ".join(table_sigs)
    t_case = " ".join(
        f"WHEN pb.b = {b} THEN {t}"
        for b, (t, _pbits, _clamped) in sorted(plan.by_b.items())
    )
    pb_case = " ".join(
        f"WHEN pb.b = {b} THEN {pbits}"
        for b, (_t, pbits, _clamped) in sorted(plan.by_b.items())
    )
    return f"""
WITH pb AS (
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {NEARDUP_LSH_OCC} >= nn.n
                 THEN g.b END),
        {NEARDUP_LSH_MAX_PLANES}) AS b
    FROM generate_series({NEARDUP_LSH_MIN_PLANES}, {NEARDUP_LSH_MAX_PLANES}) AS g(b),
         (SELECT count(*) AS n FROM embeddings) nn
), params AS (
    SELECT (CAST(1 AS BIGINT) << pb.b) AS m,
           pb.b AS b,
           (CASE {t_case} END) AS t,
           (CASE {pb_case} END) AS pbits
    FROM pb
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), signed AS (
    {signed}
), aprobe AS (
    SELECT vec_id, table_id,
           CASE WHEN g.p < 0 THEN sig
                ELSE xor(sig, (CAST(1 AS BIGINT) << g.p)) END AS sig
    FROM signed,
         generate_series(-1, {NEARDUP_LSH_MAX_PLANES - 1}) AS g(p)
    WHERE g.p < (SELECT CASE WHEN pbits >= 1 THEN b ELSE 0 END FROM params)
), bprobe AS (
    SELECT vec_id, table_id,
           CASE WHEN g.p < 0 THEN sig
                ELSE xor(sig, (CAST(1 AS BIGINT) << g.p)) END AS sig
    FROM signed,
         generate_series(-1, {NEARDUP_LSH_MAX_PLANES - 1}) AS g(p)
    WHERE g.p < (SELECT CASE WHEN pbits = 2 THEN b ELSE 0 END FROM params)
), cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM aprobe a
    JOIN bprobe b ON a.table_id = b.table_id AND a.sig = b.sig
    WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       round(list_inner_product(va.e, vb.e) / (va.nrm * vb.nrm), 6) AS sim
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE round(list_inner_product(va.e, vb.e) / (va.nrm * vb.nrm), 6) >= {COSINE_DUP_THRESHOLD}
"""


def neardup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the two-stage LSH near-dup tier against the
    exact triangular self-join — extends the audit symmetry (IVF,
    bitext cells, hard-negative cells) to the pair-MINING family, and
    with r14's self-sized plane count this is the n_tables tuning
    loop: planes follow log2(n) to hold occupancy, and the per-table
    recall that costs is bought back with n_tables, read off this row
    after each re-size (the operating-guide formula, now measured
    instead of narrated).

    Precision is 100 BY CONSTRUCTION — stage two exact-verifies every
    candidate against the same threshold — so the precision column
    turns the verify-stage contract into an oracle-checked value
    rather than a docstring claim.  Both tiers are deterministic
    (md5 hyperplanes, round-6 cosines), so DuckDB replays the audit
    to the integer."""
    exact = embedding_neardup_pairs(spark, sf_dir).select("id_a", "id_b")
    lsh = embedding_neardup_lsh_verified(spark, sf_dir).select("id_a", "id_b")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = exact.join(lsh, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        ne.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            F.expr(
                "CASE WHEN n_exact = 0 THEN 100"
                " ELSE n_hit * 100 div n_exact END"
            ).cast("long").alias("recall_pct"),
            F.expr(
                "CASE WHEN n_lsh = 0 THEN 100"
                " ELSE n_hit * 100 div n_lsh END"
            ).cast("long").alias("precision_pct"),
        )
    )


def _neardup_lsh_recall_oracle() -> str:
    return f"""
WITH exact_pairs AS ({EMBEDDING_NEARDUP_ORACLE}),
lsh_pairs AS ({_neardup_lsh_oracle()}),
counts AS (
    SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
           (SELECT count(*) FROM lsh_pairs) AS n_lsh,
           (SELECT count(*)
            FROM exact_pairs e JOIN lsh_pairs l
              ON e.id_a = l.id_a AND e.id_b = l.id_b) AS n_hit
)
SELECT n_exact, n_lsh, n_hit,
       CAST(CASE WHEN n_exact = 0 THEN 100
                 ELSE n_hit * 100 // n_exact END AS BIGINT) AS recall_pct,
       CAST(CASE WHEN n_lsh = 0 THEN 100
                 ELSE n_hit * 100 // n_lsh END AS BIGINT) AS precision_pct
FROM counts
"""


IVF_NPROBE = 2


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "label",
        dim=EMB_DIM, k=TOPK_K, nprobe=IVF_NPROBE,
    )


def _ivf_oracle(
    nprobe: int = IVF_NPROBE, cells_prelude: str = "", cells_join: str = ""
) -> str:
    """IVF replay, parameterized on the CELL SOURCE: by default each
    vector's ``label`` column is its cell; passing ``cells_prelude``
    (extra leading CTEs ending in one named ``km(vec_id, cluster)``)
    plus ``cells_join`` routes over learned k-means cells instead —
    the `ann_recall_audit_kmeans` comparison."""
    label_src = "km.cluster" if cells_join else "ve.label"
    return f"""
WITH {cells_prelude}v AS (
    SELECT ve.vec_id, {label_src} AS label, ve.embedding::DOUBLE[] AS e,
           sqrt(list_inner_product(ve.embedding::DOUBLE[], ve.embedding::DOUBLE[])) AS nrm
    FROM embeddings ve{cells_join}
), cent AS (
    SELECT label AS cell,
           list(round(avg_val, 6) ORDER BY i) AS centroid
    FROM (
        SELECT label, i, avg(e[i]) AS avg_val
        FROM v, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY label, i
    )
    GROUP BY label
), probes AS (
    SELECT vec_id AS query_id, e AS qv, nrm AS qn FROM v WHERE vec_id < {N_PROBES}
), routed AS (
    -- zero-norm guard mirrors the operator (ADVICE r13): cosine only
    -- when both norms are positive, else the -2.0 sentinel
    SELECT query_id, qv, qn, cell,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY CASE WHEN qn * sqrt(list_inner_product(centroid, centroid)) > 0
                             THEN round(list_inner_product(qv, centroid)
                                        / (qn * sqrt(list_inner_product(centroid, centroid))), 6)
                             ELSE -2.0 END DESC,
                        cell ASC
           ) AS r
    FROM probes, cent
), probe_cells AS (
    SELECT query_id, qv, qn, cell FROM routed WHERE r <= {nprobe}
), scored AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           round(list_inner_product(p.qv, c.e) / (p.qn * c.nrm), 6) AS sim
    FROM probe_cells p
    JOIN v c ON c.label = p.cell AND c.vec_id <> p.query_id
), ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
           sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOPK_K}
"""


IVF_TOPK_ORACLE = _ivf_oracle()


# ---------------------------------------------------------------------------
# Gopher quality-filter suite
# ---------------------------------------------------------------------------


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document filters (Rae et al. 2021 A1.1)
    over the corpus in one scan — see
    :func:`functions.text.gopher_quality_flags`."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_quality_flags(docs, "doc_id", "text")


GOPHER_ORACLE = f"""
WITH d AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS words,
           string_split(text, chr(10)) AS lines
    FROM documents
), m AS (
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           list_sum(list_transform(words, w -> len(w))) * 1.0 / len(words)
               AS mean_wl,
           len(text) - len(replace(text, '#', '')) AS n_hash,
           (len(text) - len(replace(text, '...', ''))) / 3
               + (len(text) - len(replace(text, '…', ''))) AS n_ell,
           len(list_filter(lines,
               l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_lines,
           len(list_filter(lines,
               l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS ell_lines,
           len(lines) * 1.0 AS n_lines,
           len(list_filter(words,
               w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
           len(list_intersect(list_distinct(words),
               {list(text.GOPHER_STOPWORDS)!r})) AS n_stop
    FROM d
), flags AS (
    SELECT doc_id, n_words,
           n_words >= {text.GOPHER_MIN_WORDS}
               AND n_words <= {text.GOPHER_MAX_WORDS} AS ok_word_count,
           mean_wl >= {text.GOPHER_MIN_MEAN_WORD_LEN}
               AND mean_wl <= {text.GOPHER_MAX_MEAN_WORD_LEN}
               AS ok_mean_word_len,
           (n_hash + n_ell) * 1.0 / n_words <= {text.GOPHER_MAX_SYMBOL_RATIO}
               AS ok_symbol_ratio,
           bullet_lines / n_lines <= {text.GOPHER_MAX_BULLET_LINE_FRAC}
               AS ok_bullet_lines,
           ell_lines / n_lines <= {text.GOPHER_MAX_ELLIPSIS_LINE_FRAC}
               AS ok_ellipsis_lines,
           alpha_words * 1.0 / n_words >= {text.GOPHER_MIN_ALPHA_WORD_FRAC}
               AS ok_alpha_words,
           n_stop >= {text.GOPHER_MIN_STOPWORDS} AS ok_stopwords
    FROM m
)
SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
       ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
       ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
           AND ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words
           AND ok_stopwords AS keep
FROM flags
"""


def gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher repetition filters (Rae et al. 2021 A1.2)
    — see :func:`functions.text.gopher_repetition_flags`."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_repetition_flags(docs, "doc_id", "text")


def _gopher_repetition_oracle() -> str:
    ns = sorted(set(text.GOPHER_TOP_NGRAM_MAX) | set(text.GOPHER_DUP_NGRAM_MAX))
    flag_exprs = []
    for n, thr in text.GOPHER_TOP_NGRAM_MAX.items():
        flag_exprs.append(
            f"coalesce(max(CASE WHEN n = {n} THEN top_mass END), 0) * 1.0"
            f" / any_value(n_chars) <= {thr} AS ok_top_{n}gram"
        )
    for n, thr in text.GOPHER_DUP_NGRAM_MAX.items():
        flag_exprs.append(
            f"coalesce(max(CASE WHEN n = {n} THEN dup_mass END), 0) * 1.0"
            f" / any_value(n_chars) <= {thr} AS ok_dup_{n}gram"
        )
    flag_names = (
        [f"ok_top_{n}gram" for n in text.GOPHER_TOP_NGRAM_MAX]
        + [f"ok_dup_{n}gram" for n in text.GOPHER_DUP_NGRAM_MAX]
    )
    all_flags = ["ok_dup_lines", "ok_dup_line_chars"] + flag_names
    coalesced = [
        f"coalesce(ng.{f}, TRUE) AS {f}" for f in flag_names
    ]
    return f"""
WITH d AS (
    SELECT doc_id, text, len(text) AS n_chars,
           string_split_regex(trim(text), '\\s+') AS words,
           string_split(text, chr(10)) AS lines
    FROM documents
), line_flags AS (
    SELECT doc_id,
           1.0 - len(list_distinct(lines)) * 1.0 / greatest(len(lines), 1)
               <= {text.GOPHER_MAX_DUP_LINE_FRAC} AS ok_dup_lines,
           list_sum(list_transform(list_distinct(lines),
               l -> CASE WHEN len(list_filter(lines, x -> x = l)) >= 2
                    THEN len(list_filter(lines, x -> x = l)) * len(l)
                    ELSE 0 END)) * 1.0 / greatest(n_chars, 1)
               <= {text.GOPHER_MAX_DUP_LINE_CHAR_FRAC} AS ok_dup_line_chars
    FROM d
), g AS (
    SELECT doc_id, n_chars, nn.n AS n,
           unnest([array_to_string(words[i:i+nn.n-1], ' ')
                   for i in range(1, len(words) - nn.n + 2)]) AS gram
    FROM d, (SELECT unnest({ns!r}) AS n) nn
    WHERE len(words) >= nn.n
), counts AS (
    SELECT doc_id, n_chars, n, gram, count(*) AS c, len(gram) AS glen
    FROM g GROUP BY ALL
), per_doc_n AS (
    SELECT doc_id, n_chars, n,
           max(c * glen) AS top_mass,
           sum(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS dup_mass
    FROM counts GROUP BY doc_id, n_chars, n
), ngram_flags AS (
    SELECT doc_id, {", ".join(flag_exprs)}
    FROM per_doc_n GROUP BY doc_id
)
SELECT lf.doc_id, lf.ok_dup_lines, lf.ok_dup_line_chars,
       {", ".join(coalesced)},
       {" AND ".join(f"coalesce(ng.{f}, TRUE)" if f.startswith("ok_top") or f.startswith("ok_dup_") and "gram" in f else f"lf.{f}" for f in all_flags)} AS keep
FROM line_flags lf LEFT JOIN ngram_flags ng USING (doc_id)
"""


GOPHER_REPETITION_ORACLE = _gopher_repetition_oracle()


# ---------------------------------------------------------------------------
# ANN recall audit (exact vs IVF, same probes, same k)
# ---------------------------------------------------------------------------

#: the two probe widths the audit contrasts — the knob the tuning
#: loop turns.  At the synthetic SFs label-cells are only weakly
#: aligned with cosine neighborhoods, so the nprobe=2 recall is low
#: by construction; the audit's value is showing the recall CURVE.
ANN_AUDIT_NPROBES = (2, 4)


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF ANN path against brute-force cosine top-k,
    at two nprobe settings side by side.

    The one number an ANN operator is accountable for: per probe
    query, |IVF top-k ∩ exact top-k| / k.  All rankings are
    deterministic (rounded sims, id tie-break), so the recalls are
    ENGINE-EXACT and DuckDB replays them to the integer — unlike the
    sketch audits, no tolerance band is needed.  At 100 TB this query
    IS the nprobe tuning loop: run on a probe sample after each
    re-clustering, read the recall-vs-cost curve, pick the knob.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    exact = similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=TOPK_K)
    out = exact.select("query_id", "neighbor_id")
    # r19: both nprobe settings from ONE scoring pass (the lo candidate
    # set is a subset of the hi one) — row-identical to per-np ivf_topk.
    approx_by_np = similarity.ivf_topk_multi(
        emb, probes, "vec_id", "embedding", "label",
        dim=EMB_DIM, k=TOPK_K, nprobes=ANN_AUDIT_NPROBES,
    )
    for np_ in ANN_AUDIT_NPROBES:
        approx = approx_by_np[np_]
        # approx is <= N_PROBES * k rows by construction — broadcast the
        # hit join explicitly (the checkpointed scored table's stats no
        # longer trip auto-broadcast through the filter+window on top).
        out = out.join(
            F.broadcast(
                approx.select(
                    "query_id", "neighbor_id", F.lit(1).alias(f"hit_np{np_}")
                )
            ),
            ["query_id", "neighbor_id"],
            "left",
        )
    aggs = [F.count(F.lit(1)).alias("n_exact")]
    for np_ in ANN_AUDIT_NPROBES:
        aggs.append(
            F.coalesce(F.sum(f"hit_np{np_}"), F.lit(0))
            .cast("long")
            .alias(f"n_hit_np{np_}")
        )
    per_q = out.groupBy("query_id").agg(*aggs)
    cols = ["query_id", "n_exact"]
    for np_ in ANN_AUDIT_NPROBES:
        cols.append(f"n_hit_np{np_}")
        per_q = per_q.withColumn(
            f"recall_pct_np{np_}",
            F.expr(f"n_hit_np{np_} * 100 div n_exact"),
        )
        cols.append(f"recall_pct_np{np_}")
    lo, hi = ANN_AUDIT_NPROBES[0], ANN_AUDIT_NPROBES[-1]
    per_q = per_q.withColumn(
        "wider_probe_no_worse",
        F.col(f"recall_pct_np{hi}") >= F.col(f"recall_pct_np{lo}"),
    )
    return per_q.select(*cols, "wider_probe_no_worse")


def _ann_recall_oracle() -> str:
    lo, hi = ANN_AUDIT_NPROBES[0], ANN_AUDIT_NPROBES[-1]
    return f"""
WITH exact_tk AS ({COSINE_TOPK_ORACLE}),
ivf_lo AS ({_ivf_oracle(lo)}),
ivf_hi AS ({_ivf_oracle(hi)}),
hits AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit_lo,
           CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit_hi
    FROM exact_tk e
    LEFT JOIN ivf_lo a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    LEFT JOIN ivf_hi b
      ON b.query_id = e.query_id AND b.neighbor_id = e.neighbor_id
)
SELECT query_id,
       count(*) AS n_exact,
       CAST(sum(hit_lo) AS BIGINT) AS n_hit_np{lo},
       CAST((sum(hit_lo) * 100) // count(*) AS BIGINT) AS recall_pct_np{lo},
       CAST(sum(hit_hi) AS BIGINT) AS n_hit_np{hi},
       CAST((sum(hit_hi) * 100) // count(*) AS BIGINT) AS recall_pct_np{hi},
       (sum(hit_hi) * 100) // count(*) >= (sum(hit_lo) * 100) // count(*)
           AS wider_probe_no_worse
FROM hits
GROUP BY query_id
"""


ANN_RECALL_ORACLE = _ann_recall_oracle()


def ann_recall_audit_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_recall_audit` with LEARNED cells: IVF routes over k-means
    clusters of the embedding space instead of the `label` column.

    The r7 audit documented that label-cells are only weakly aligned
    with cosine neighborhoods (they are metadata, not geometry), which
    capped recall at small nprobe.  Clustering the vectors themselves
    (the quantized deterministic k-means the SemDeDup operator runs)
    makes cells = neighborhoods, so the same nprobe buys more recall —
    `tests/test_ann_kmeans.py` pins that the mean recall@k at each
    audited nprobe is no worse than the label-cell audit's.  Output
    schema is identical to `ann_recall_audit`, so the two results join
    1:1 on query_id for the comparison.

    Scale shape: clustering cost is the k-means operator's (bounded
    driver sync of k x dim ints per iteration); the audit itself adds
    one vec_id equi-join to tag cells, then the standard broadcast-
    centroid routing + per-cell candidate join.  At 100 TB this pair
    of audits is the re-clustering acceptance test: rerun both after
    each index rebuild, ship the cheaper one that clears the recall
    bar.
    """
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KM_K,
        _km_final_assignment,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = _km_final_assignment(spark, sf_dir, k=KM_K, route=False).select(
        "vec_id", F.col("cluster").alias("km_cell")
    )
    emb_k = emb.join(cells, "vec_id").select("vec_id", "embedding", "km_cell")
    probes = emb_k.filter(F.col("vec_id") < N_PROBES)
    exact = similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=TOPK_K)
    out = exact.select("query_id", "neighbor_id")
    # r19: both nprobe settings from ONE scoring pass (see
    # ann_recall_audit) — also evaluates the k-means cell-tag join once.
    approx_by_np = similarity.ivf_topk_multi(
        emb_k, probes, "vec_id", "embedding", "km_cell",
        dim=EMB_DIM, k=TOPK_K, nprobes=ANN_AUDIT_NPROBES,
    )
    for np_ in ANN_AUDIT_NPROBES:
        approx = approx_by_np[np_]
        # approx is <= N_PROBES * k rows by construction — broadcast the
        # hit join explicitly (the checkpointed scored table's stats no
        # longer trip auto-broadcast through the filter+window on top).
        out = out.join(
            F.broadcast(
                approx.select(
                    "query_id", "neighbor_id", F.lit(1).alias(f"hit_np{np_}")
                )
            ),
            ["query_id", "neighbor_id"],
            "left",
        )
    aggs = [F.count(F.lit(1)).alias("n_exact")]
    for np_ in ANN_AUDIT_NPROBES:
        aggs.append(
            F.coalesce(F.sum(f"hit_np{np_}"), F.lit(0))
            .cast("long")
            .alias(f"n_hit_np{np_}")
        )
    per_q = out.groupBy("query_id").agg(*aggs)
    cols = ["query_id", "n_exact"]
    for np_ in ANN_AUDIT_NPROBES:
        cols.append(f"n_hit_np{np_}")
        per_q = per_q.withColumn(
            f"recall_pct_np{np_}",
            F.expr(f"n_hit_np{np_} * 100 div n_exact"),
        )
        cols.append(f"recall_pct_np{np_}")
    lo, hi = ANN_AUDIT_NPROBES[0], ANN_AUDIT_NPROBES[-1]
    per_q = per_q.withColumn(
        "wider_probe_no_worse",
        F.col(f"recall_pct_np{hi}") >= F.col(f"recall_pct_np{lo}"),
    )
    return per_q.select(*cols, "wider_probe_no_worse")


def _ann_recall_kmeans_oracle() -> str:
    from amazon_books_review_spark.plans.scale_ops_queries import (
        KM_ITERS,
        _kmeans_ctes,
    )

    prelude = (
        ",\n".join(_kmeans_ctes())
        + f",\nkm AS (SELECT vec_id, cluster FROM a{KM_ITERS - 1}),\n"
    )
    join = "\n    JOIN km ON km.vec_id = ve.vec_id"
    lo, hi = ANN_AUDIT_NPROBES[0], ANN_AUDIT_NPROBES[-1]
    return f"""
WITH exact_tk AS ({COSINE_TOPK_ORACLE}),
ivf_lo AS ({_ivf_oracle(lo, cells_prelude=prelude, cells_join=join)}),
ivf_hi AS ({_ivf_oracle(hi, cells_prelude=prelude, cells_join=join)}),
hits AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit_lo,
           CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit_hi
    FROM exact_tk e
    LEFT JOIN ivf_lo a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    LEFT JOIN ivf_hi b
      ON b.query_id = e.query_id AND b.neighbor_id = e.neighbor_id
)
SELECT query_id,
       count(*) AS n_exact,
       CAST(sum(hit_lo) AS BIGINT) AS n_hit_np{lo},
       CAST((sum(hit_lo) * 100) // count(*) AS BIGINT) AS recall_pct_np{lo},
       CAST(sum(hit_hi) AS BIGINT) AS n_hit_np{hi},
       CAST((sum(hit_hi) * 100) // count(*) AS BIGINT) AS recall_pct_np{hi},
       (sum(hit_hi) * 100) // count(*) >= (sum(hit_lo) * 100) // count(*)
           AS wider_probe_no_worse
FROM hits
GROUP BY query_id
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs, "doc_id", "text")


TOKEN_STATS_ORACLE = r"""
WITH docs AS (
    SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_tokens,
       CAST(len(text) AS BIGINT) AS n_chars_measured,
       len(text) * 1.0 / len(words) AS avg_token_len,
       CAST(len(string_split(trim(regexp_replace(text, '(\d+|[^\w\s]+)', ' \1 ', 'g')), ' ')) AS BIGINT)
           AS n_subword_tokens
FROM docs
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs, "doc_id", "text")


def lang_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang-ID heuristic against the corpus's
    labeled ``lang`` column — the eval loop every classifier-driven
    filter needs: per (true, predicted) cell counts plus integer
    per-true-language recall.  A filtering pipeline that trusts
    `text_lang_id` should watch exactly this table drift.

    Scale shape: the per-row prediction is the existing zero-shuffle
    scoring scan; the matrix is one (true, pred)-keyed aggregate and
    the recall denominator a per-true-lang window over the
    cells (languages x languages rows — nothing data-sized).
    """
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pred = text.lang_id(docs, "doc_id", "text").select("doc_id", "lang_guess")
    cells = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("lang"))
    return cells.select(
        "lang",
        "lang_guess",
        "n",
        total.cast("long").alias("lang_total"),
        F.expr("n * 100 div sum(n) over (partition by lang)").alias("recall_pct"),
    )


def _lang_confusion_oracle() -> str:
    return f"""
WITH pred AS ({_lang_id_oracle()}),
cells AS (
    SELECT d.lang, p.lang_guess, count(*) AS n
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.lang_guess
)
SELECT lang, lang_guess, n,
       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
       CAST((n * 100) // sum(n) OVER (PARTITION BY lang) AS BIGINT)
           AS recall_pct
FROM cells
"""


def _lang_id_oracle() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    hits = ",\n       ".join(
        "CAST(len(list_intersect(words, {words!r})) AS BIGINT) AS hits_{lang}".format(
            words=list(text.LANG_STOPWORDS[lang]), lang=lang
        )
        for lang in langs
    )
    # argmax with alphabetical tie-break: greatest() + first-match CASE
    # over langs in sorted order (mirrors Spark's sort_array argmax).
    max_hits = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    guess = (
        "CASE "
        + " ".join(f"WHEN hits_{lang} = {max_hits} THEN '{lang}'" for lang in langs)
        + " END"
    )
    return f"""
WITH docs AS (
    SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
), scored AS (
    SELECT doc_id,
       {hits}
    FROM docs
)
SELECT doc_id, {', '.join('hits_' + lang for lang in langs)},
       {guess} AS lang_guess,
       CAST({max_hits} AS BIGINT) AS lang_evidence
FROM scored
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text")


QUALITY_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents
), m AS (
    SELECT doc_id,
           len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / greatest(len(text), 1) AS alpha_ratio,
           CAST(len(list_intersect(words, {list(text.QUALITY_STOPWORDS)!r})) AS DOUBLE)
               AS stop_hits,
           len(list_distinct(words)) * 1.0 / greatest(len(words), 1.0) AS distinct_ratio,
           least(len(words) / 100.0, 1.0) AS len_sat
    FROM docs
)
SELECT doc_id,
       round(alpha_ratio, 4) AS alpha_ratio,
       round(distinct_ratio, 4) AS distinct_ratio,
       round(0.3 * len_sat + 0.3 * alpha_ratio
             + 0.2 * least(stop_hits / 3.0, 1.0)
             + 0.2 * distinct_ratio, 4) AS quality
FROM m
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fp_rolling has no portable SQL oracle (hex->int conv chains);
    # its properties are pytest-verified. Oracle checks fp_md5.
    return text.fingerprint(docs, "doc_id", "text").select("doc_id", "fp_md5")


FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_md5
FROM documents
"""


TFIDF_TOP_K = 5


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scored top terms per document — relational TF-IDF
    (tf join df join N), no MLlib needed.

    Plan shape: one explode, two aggregations (tf keyed on (doc,term),
    df keyed on term), the N scalar broadcast via crossJoin, and a
    per-doc top-k window.  At 100 TB the df table is the broadcast
    side (vocabulary-sized) and tf never leaves its (doc,term)
    partitioning until the final window.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf",
                F.col("rank").cast("long").alias("rank"))
    )


TFIDF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id, term, tf, df,
           round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
    SELECT doc_id, term, tf, df, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def word_count_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic explode+count wordcount, restricted to words seen
    >= 100 times (deterministic filter instead of a ties-prone LIMIT)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


WORD_COUNT_ORACLE = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
GROUP BY word
HAVING count(*) >= 100
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata via the Catalyst-native path (the
    mapInPandas decode stage is pytest-verified; its fake decode has
    no SQL analog)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, "doc_id", "text")
    return multimodal.binary_meta(with_payload, "doc_id")


def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over opaque payloads: 16-bin byte histogram
    (high nibble) + byte entropy — see
    `functions/multimodal.byte_histogram_features` for the Arrow
    mechanics and the sequential-entropy determinism contract.  The
    oracle walks the SAME bytes as hex-digit pairs (high nibble = the
    odd-position hex char), so the histogram is integer-exact and the
    entropy replays the identical expression chain."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, "doc_id", "text")
    return multimodal.byte_histogram_features(with_payload, "doc_id")


def _byte_features_oracle() -> str:
    digits = "0123456789ABCDEF"
    counts = [
        f"len(list_filter(nibbles, x -> x = '{d}')) AS c{i}"
        for i, d in enumerate(digits)
    ]
    hist = ", ".join(f"c{i}" for i in range(16))
    # entropy: sequential sum over bins in index order, natural log,
    # final /ln(2) and floor(x*1e4+0.5)/1e4 — mirrors the engine's loop
    terms = " + ".join(
        f"(CASE WHEN c{i} > 0 THEN -(c{i} * 1.0 / n) * ln(c{i} * 1.0 / n)"
        f" ELSE 0.0 END)"
        for i in range(16)
    )
    return f"""
WITH d AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text)) AS n
    FROM documents
), nib AS (
    SELECT doc_id, n,
           [substr(h, 2 * i - 1, 1) for i in range(1, n + 1)] AS nibbles
    FROM d
), counts AS (
    SELECT doc_id, n, {', '.join(counts)}
    FROM nib
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       concat_ws(',', {hist}) AS byte_hist,
       floor((CASE WHEN n > 0 THEN ({terms}) / ln(2.0) ELSE 0.0 END)
             * 10000 + 0.5) / 10000 AS entropy_bits
FROM counts
"""


# ---------------------------------------------------------------------------
# PII redaction + deterministic splits/sampling (training-pipeline ops)
# ---------------------------------------------------------------------------


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents.  The corpus is synthetic prose, so
    deterministic fake PII is injected first (same CASE in both
    engines) to make the counts non-trivial; the operator itself
    (:func:`functions.text.redact_pii`) is the deliverable."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = (
        F.when(d % 5 == 0, F.concat(
            F.col("text"), F.lit(" Contact: user"), d.cast("string"),
            F.lit("@example.com now")))
        .when(d % 5 == 1, F.concat(
            F.col("text"), F.lit(" server 10.0."), (d % 256).cast("string"),
            F.lit("."), (d % 200).cast("string"), F.lit(" logged")))
        .when(d % 5 == 2, F.concat(
            F.col("text"), F.lit(" call +1 555 010 "),
            (1000 + d % 9000).cast("string"), F.lit(" now")))
        .otherwise(F.col("text"))
    )
    return text.redact_pii(
        docs.select("doc_id", aug.alias("text")), "doc_id", "text"
    )


def _pii_oracle() -> str:
    email, ipv4, phone = text.PII_EMAIL, text.PII_IPV4, text.PII_PHONE
    return f"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN text || ' Contact: user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                WHEN doc_id % 5 = 1 THEN text || ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) || ' logged'
                WHEN doc_id % 5 = 2 THEN text || ' call +1 555 010 ' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' now'
                ELSE text END AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{email}', '<EMAIL>', 'g'),
           '{ipv4}', '<IP>', 'g'),
           '{phone}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def train_val_test_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.train_val_test_split(
        docs.select("doc_id", "lang"), "doc_id"
    )


STRATA_RATES = {"en": 50, "zh": 20}
STRATA_DEFAULT = 10


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs.select("doc_id", "lang", "source"), "doc_id", "lang",
        rates_pct=STRATA_RATES, default_pct=STRATA_DEFAULT,
    )


def _bucket_duckdb(salt: str) -> str:
    """DuckDB twin of sampling.hash_bucket: first 7 hex chars of
    md5(salt|id) via char-position arithmetic (no conv())."""
    digit = (
        lambda i: f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    )
    val = digit(1)
    for i in range(2, 8):
        val = f"({val} * 16 + {digit(i)})"
    return (
        f"SELECT doc_id, ({val}) % 100 AS bucket FROM "
        f"(SELECT doc_id, md5('{salt}|' || CAST(doc_id AS VARCHAR)) AS h FROM documents)"
    )


def _split_oracle() -> str:
    return f"""
WITH b AS ({_bucket_duckdb("split")})
SELECT d.doc_id, d.lang, b.bucket,
       CASE WHEN b.bucket < 80 THEN 'train'
            WHEN b.bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents d JOIN b ON d.doc_id = b.doc_id
"""


def _stratified_oracle() -> str:
    rate_cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(STRATA_RATES.items())
    )
    return f"""
WITH b AS ({_bucket_duckdb("sample")})
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN b ON d.doc_id = b.doc_id
WHERE b.bucket < CASE d.lang {rate_cases} ELSE {STRATA_DEFAULT} END
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "doc_id", "text")


REPETITION_ORACLE = r"""
WITH docs AS (
    SELECT doc_id, text,
           string_split(text, chr(10)) AS lines,
           string_split(trim(text), ' ') AS words
    FROM documents
), grams AS (
    SELECT doc_id, lines,
           [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
            for i in range(1, len(words) - 1)] AS trigrams
    FROM docs
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       round(1.0 - len(list_distinct(lines)) / greatest(len(lines) * 1.0, 1.0), 4)
           AS dup_line_ratio,
       CAST(len(trigrams) AS BIGINT) AS n_trigrams,
       round(1.0 - len(list_distinct(trigrams)) / greatest(len(trigrams) * 1.0, 1.0), 4)
           AS dup_trigram_ratio
FROM grams
"""


PACK_BUDGET = 4096


def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over documents, grouped by language (at scale
    the group key would also carry a hash bucket — see
    sampling.pack_sequences)."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", "lang", F.size(text.tokens("text")).cast("long").alias("n_tokens")
    )
    return sampling.pack_sequences(
        with_counts, "doc_id", "n_tokens", PACK_BUDGET, group_cols=["lang"]
    )


PACK_ORACLE = f"""
WITH counts AS (
    SELECT doc_id, lang,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_BUDGET}) AS BIGINT) AS seq_bin
FROM counts
"""


MULTIMODAL_META_ORACLE = """
SELECT doc_id,
       'image/fake' AS media_type,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_bytes,
       md5(text) AS checksum
FROM documents
"""


FRAME_STRIDE = 10
CHUNK_BYTES = 1024


def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas FAN-OUT stage (one row per sampled frame) with the
    deterministic fake codec — the oracle reproduces frame counts,
    stride and per-frame hashes exactly, so the Python-boundary
    mechanics (not just row counts) are value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, "doc_id", "text")
    return multimodal.sample_frames(with_payload, "doc_id", stride=FRAME_STRIDE)


FRAME_SAMPLES_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, md5(text) AS base,
           octet_length(CAST(text AS BLOB)) % 240 + 1 AS n_frames
    FROM documents
), frames AS (
    SELECT doc_id, base,
           unnest(range(0, n_frames, {FRAME_STRIDE})) AS frame_idx
    FROM meta
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(base || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM frames
"""


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-native byte chunking of the payload column (sequence
    + explode + binary substring) — no Python boundary.  Oracle works
    on VARCHAR because the synthetic corpus is pure ASCII (byte slice
    == char slice; asserted across SFs before this was written)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, "doc_id", "text")
    return multimodal.chunk_payload(with_payload, "doc_id", chunk_bytes=CHUNK_BYTES)


AUDIO_CHUNKS_ORACLE = f"""
WITH n AS (
    SELECT doc_id, text,
           CAST(ceil(length(text) * 1.0 / {CHUNK_BYTES}) AS BIGINT) AS n_chunks
    FROM documents
), c AS (
    SELECT doc_id, text, unnest(range(0, n_chunks)) AS chunk_idx FROM n
)
SELECT doc_id,
       chunk_idx,
       CAST(length(substring(text, CAST(chunk_idx * {CHUNK_BYTES} + 1 AS BIGINT), {CHUNK_BYTES})) AS BIGINT) AS chunk_len,
       md5(substring(text, CAST(chunk_idx * {CHUNK_BYTES} + 1 AS BIGINT), {CHUNK_BYTES})) AS chunk_md5
FROM c
"""


def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image header decode under the hard gate: valid PNG / JPEG /
    GIF payloads are built Catalyst-side with id-derived dimensions
    (multimodal.make_image_payload), then the mapInPandas decode stage
    parses the actual bytes (multimodal.parse_image_header).  The
    oracle recomputes format / dims / size from the same id
    arithmetic, so a wrong byte layout or a wrong parse both fail the
    value hash."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_image_payload(docs, "doc_id", "text")
    meta = multimodal.decode_image_meta(with_payload, "doc_id")
    return meta.select("doc_id", "format", "width", "height", "payload_bytes")


DECODE_META_ORACLE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(doc_id % 512 + 16 AS INTEGER) AS width,
       CAST(doc_id % 384 + 16 AS INTEGER) AS height,
       -- header bytes (png 29 / jpeg 11 / gif 10) + 32-byte md5-hex body
       CAST(CASE doc_id % 3 WHEN 0 THEN 61 WHEN 1 THEN 43 ELSE 42 END AS BIGINT)
           AS payload_bytes
FROM documents
"""


def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage under the hard gate: real-header payloads in, REAL
    dimension parse + halved target dims + RGB24 buffer sizing out
    (`multimodal.resize_images`; the resample itself is the
    documented stub — no imaging libs in this runtime).  The oracle
    recomputes everything from the id arithmetic the payload builder
    used, so a wrong parse or wrong target math fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_image_payload(docs, "doc_id", "text")
    return multimodal.resize_images(with_payload, "doc_id")


RESIZE_META_ORACLE = """
WITH dims AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
               AS format,
           CAST(doc_id % 512 + 16 AS INTEGER) AS src_w,
           CAST(doc_id % 384 + 16 AS INTEGER) AS src_h
    FROM documents
)
SELECT doc_id, format, src_w, src_h,
       CAST(greatest(1, src_w // 2) AS INTEGER) AS dst_w,
       CAST(greatest(1, src_h // 2) AS INTEGER) AS dst_h,
       CAST(greatest(1, src_w // 2) * greatest(1, src_h // 2) * 3 AS BIGINT)
           AS resized_bytes
FROM dims
"""


def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio header decode under the same hard gate as
    multimodal_decode_meta: valid WAV (RIFF fmt-chunk walk) / MP3
    (MPEG frame-header) payloads are built Catalyst-side with
    id-derived acoustics (multimodal.make_audio_payload), then the
    mapInPandas decode stage parses the actual bytes
    (multimodal.parse_audio_header).  The oracle recomputes format /
    sample-rate / channels / bits from the same id arithmetic, so a
    wrong byte layout and a wrong parse both fail the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_audio_payload(docs, "doc_id", "text")
    meta = multimodal.decode_audio_meta(with_payload, "doc_id")
    return meta.select(
        "doc_id", "format", "sample_rate", "channels", "bits_per_sample",
        "payload_bytes",
    )


AUDIO_META_ORACLE = """
SELECT doc_id,
       CASE doc_id % 2 WHEN 0 THEN 'wav' ELSE 'mp3' END AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN
                 CASE (doc_id // 2) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      WHEN 2 THEN 32000 ELSE 48000 END
            ELSE
                 CASE (doc_id // 2) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 32000 END
            END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id // 2) % 2 + 1
                 WHEN (doc_id // 2) % 2 = 0 THEN 1 ELSE 2
            END AS INTEGER) AS channels,
       CAST(CASE doc_id % 2 WHEN 0 THEN 16 ELSE 0 END AS INTEGER)
           AS bits_per_sample,
       -- wav: 44-byte canonical header; mp3: 4-byte frame header; +32 body
       CAST(CASE doc_id % 2 WHEN 0 THEN 76 ELSE 36 END AS BIGINT)
           AS payload_bytes
FROM documents
"""


def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL full-pixel decode under the hard gate (closes the r10/r11
    'pixel decode stubbed' carry-over): fully valid BI_RGB 24-bit BMP
    payloads — 54-byte header plus an ACTUAL pixel array, bottom-up
    4-byte-aligned BGR rows — are built Catalyst-side with id-derived
    dimensions and per-pixel values (multimodal.make_bmp_payload);
    the mapInPandas stage then decodes every pixel for real
    (numpy.frombuffer over the payload bytes, vertical flip, channel
    split — multimodal.parse_bmp) and reports integer channel sums,
    max integer luma, and the position-weighted luma sum from the
    decoded samples.  The oracle recomputes the same statistics from
    the generative pixel formula: the sums catch a wrong row stride,
    swapped BGR channels, or any header-layout bug (different bytes
    get read), and the position-weighted luma — sum(p * luma_p) over
    the top-down pixel index — catches a missed bottom-up flip or any
    other row/pixel permutation, which leaves permutation-invariant
    sums unchanged (ADVICE r12)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_bmp_payload(docs, "doc_id")
    return multimodal.decode_pixel_stats(with_payload, "doc_id")


def _pixel_stats_oracle(fmt: str) -> str:
    """Closed-form pixel-stats oracle; BMP and PNG payload builders
    share one generative pixel formula, so the only per-codec term is
    the format tag."""
    return f"""
WITH dims AS (
    SELECT doc_id,
           CAST(doc_id % 13 + 4 AS INTEGER) AS w,
           CAST(doc_id % 7 + 3 AS INTEGER) AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims
)
SELECT doc_id,
       '{fmt}' AS format,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum((31 * doc_id + 3 * p + 2) % 256) AS BIGINT) AS sum_r,
       CAST(sum((31 * doc_id + 3 * p + 1) % 256) AS BIGINT) AS sum_g,
       CAST(sum((31 * doc_id + 3 * p) % 256) AS BIGINT) AS sum_b,
       CAST(max((299 * ((31 * doc_id + 3 * p + 2) % 256)
               + 587 * ((31 * doc_id + 3 * p + 1) % 256)
               + 114 * ((31 * doc_id + 3 * p) % 256)) // 1000)
            AS INTEGER) AS max_luma,
       CAST(sum(p * ((299 * ((31 * doc_id + 3 * p + 2) % 256)
                    + 587 * ((31 * doc_id + 3 * p + 1) % 256)
                    + 114 * ((31 * doc_id + 3 * p) % 256)) // 1000))
            AS BIGINT) AS luma_posw
FROM px
GROUP BY doc_id, w, h
"""


PIXEL_STATS_ORACLE = _pixel_stats_oracle("bmp")


def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec pixel decode under the hard gate
    (VERDICT r12 #5): fully valid 8-bit truecolor PNGs — CRC'd chunks,
    zlib-DEFLATE IDAT, scanline filters cycling None/Sub/Up/Average/
    Paeth — are minted from the SAME id-derived pixel formula as the
    BMP fixture (multimodal.make_png_payload), then decoded for real:
    chunk walk + CRC-32 validation + zlib inflate + per-scanline
    unfiltering (multimodal.parse_png), stdlib only.  The oracle is
    the same closed-form pixel recomputation as multimodal_pixel_stats
    (format tag aside), so a wrong unfilter (incl. Paeth predictor
    ties), a wrong filter-byte offset, or a misassembled IDAT stream
    changes the reconstructed pixels and fails the value hash; the
    position-weighted luma additionally pins scanline ORDER."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_png_payload(docs, "doc_id")
    return multimodal.decode_pixel_stats(with_payload, "doc_id")


PNG_PIXEL_STATS_ORACLE = _pixel_stats_oracle("png")


def multimodal_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample decode under the hard gate: the mixed WAV/MP3
    corpus from multimodal.make_audio_payload goes through
    multimodal.decode_pcm_stats, which decodes the 16-bit PCM data
    chunk of every WAV payload to int16 samples (numpy '<i2' buffer
    view after a RIFF chunk walk) and reports count / sum / peak
    amplitude from the decoded values; MP3 rows are dropped by the
    documented mixed-corpus routing (compressed audio needs a codec).
    The WAV body is the md5-hex of the text (32 ASCII bytes = 16
    little-endian int16 samples), so the oracle recomputes each
    sample as ascii(char[2i]) + 256*ascii(char[2i+1]) from md5(text)
    — a wrong endianness, a wrong data-chunk offset, or a signedness
    bug fails the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.make_audio_payload(docs, "doc_id", "text")
    return multimodal.decode_pcm_stats(with_payload, "doc_id")


PCM_STATS_ORACLE = """
WITH w AS (
    SELECT doc_id, md5(text) AS hsh FROM documents WHERE doc_id % 2 = 0
), s AS (
    SELECT doc_id, hsh, unnest(range(0, 16)) AS i FROM w
), samp AS (
    SELECT doc_id, i,
           ascii(substr(hsh, CAST(2 * i + 1 AS INTEGER), 1))
           + 256 * ascii(substr(hsh, CAST(2 * i + 2 AS INTEGER), 1)) AS v
    FROM s
)
SELECT doc_id,
       'wav' AS format,
       CAST(CASE (doc_id // 2) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 WHEN 2 THEN 32000 ELSE 48000 END AS INTEGER) AS sample_rate,
       CAST((doc_id // 2) % 2 + 1 AS INTEGER) AS channels,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_samples,
       CAST(max(v) AS INTEGER) AS peak_abs,
       -- position-weighted sum over the file-order sample index:
       -- makes sample ORDER observable (ADVICE r12 closure, same as
       -- the pixel stats' luma_posw)
       CAST(sum(i * v) AS BIGINT) AS samples_posw
FROM samp
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Incremental dedup — new batch vs existing corpus index
# ---------------------------------------------------------------------------
# Split is SF-independent: even doc_ids play the historical corpus
# (the index), odd doc_ids are the incoming batch.


def dedup_incremental_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    index = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_incremental_exact(new, index, "doc_id", "text")


INCR_EXACT_ORACLE = """
WITH idx AS (
    SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id % 2 = 0
), newd AS (
    SELECT md5(text) AS text_md5, min(doc_id) AS doc_id
    FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
)
SELECT doc_id, text_md5
FROM newd
WHERE text_md5 NOT IN (SELECT text_md5 FROM idx)
"""


def dedup_incremental_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    index = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_incremental_neardup(
        new, index, "doc_id", "text",
        n=NGRAM_N, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )


def _incr_neardup_oracle() -> str:
    """new-bands x index-bands candidates -> exact Jaccard verify ->
    anti-join: mirrors dedup.dedup_incremental_neardup with the same
    md5 minhash family."""
    mh_exprs = ",\n           ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(N_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
    )) AS shingle
    FROM docs
), sig AS (
    SELECT doc_id,
           {mh_exprs}
    FROM sh GROUP BY doc_id
), banded AS (
    {bands_sql}
), cand AS (
    SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
    FROM banded n
    JOIN banded i ON n.band_id = i.band_id AND n.band_hash = i.band_hash
    WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
), sets AS (
    SELECT doc_id, list_distinct(
        [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
    ) AS shingle_set
    FROM docs
), matched AS (
    SELECT DISTINCT new_id
    FROM cand
    JOIN sets sn ON sn.doc_id = new_id
    JOIN sets si ON si.doc_id = idx_id
    WHERE round(len(list_intersect(sn.shingle_set, si.shingle_set)) * 1.0
                / (len(sn.shingle_set) + len(si.shingle_set)
                   - len(list_intersect(sn.shingle_set, si.shingle_set))), 6)
          >= {JACCARD_THRESHOLD}
)
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_id FROM matched)
"""


# ---------------------------------------------------------------------------
# HTML / URL hygiene (web-scrape ingest stages)
# ---------------------------------------------------------------------------


def _augmented_web_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents dressed up as web scrapes (deterministic, mirrored in
    the oracles): some get tags + a URL, some get entities."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = (
        F.when(d % 4 == 0, F.concat(
            F.lit("<p>"), F.col("text"),
            F.lit("</p> see https://site"), (d % 7).cast("string"),
            F.lit(".example.com/doc/"), d.cast("string")))
        .when(d % 4 == 1, F.concat(
            F.lit('<div class="x">'), F.col("text"),
            F.lit("</div> &amp; more &lt;raw&gt;")))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", aug.alias("text"))


_WEB_AUG_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN '<p>' || text || '</p> see https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
                WHEN doc_id % 4 = 1
                THEN '<div class="x">' || text || '</div> &amp; more &lt;raw&gt;'
                ELSE text END AS text
    FROM documents
"""


def text_extract_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-facing projection drops the raw array column
    (scalar outputs only — the driver's value-hash comparator is
    only known-good on scalars) and keeps the joined string, which
    carries identical information for a value check."""
    return text.extract_urls(
        _augmented_web_docs(spark, sf_dir), "doc_id", "text"
    ).select("doc_id", "urls_joined", "n_urls")


EXTRACT_URLS_ORACLE = f"""
WITH aug AS ({_WEB_AUG_SQL})
SELECT doc_id,
       coalesce(list_aggregate(regexp_extract_all(text, '{text.URL_PATTERN}'),
                               'string_agg', ' '), '') AS urls_joined,
       CAST(len(regexp_extract_all(text, '{text.URL_PATTERN}')) AS BIGINT) AS n_urls
FROM aug
"""


def url_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-frequency table (the blocklist/source-mix input):
    explode extracted URLs, parse the host with the built-in
    ``parse_url`` (JVM, codegen'd), count per domain."""
    urls = text.extract_urls(_augmented_web_docs(spark, sf_dir), "doc_id", "text")
    return (
        urls.select(F.explode("urls").alias("url"))
        .select(F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


URL_DOMAIN_ORACLE = f"""
WITH aug AS ({_WEB_AUG_SQL}),
u AS (
    SELECT unnest(regexp_extract_all(text, '{text.URL_PATTERN}')) AS url FROM aug
)
SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
       count(*) AS n_urls
FROM u
GROUP BY 1
"""


def text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.strip_html(_augmented_web_docs(spark, sf_dir), "doc_id", "text")


def _strip_html_oracle() -> str:
    expr = f"regexp_replace(text, '{text.HTML_TAG_PATTERN}', ' ', 'g')"
    for entity, char in text.HTML_ENTITIES:
        char_sql = char.replace("'", "''")
        expr = f"replace({expr}, '{entity}', '{char_sql}')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    return f"""
WITH aug AS ({_WEB_AUG_SQL})
SELECT doc_id,
       CAST(length({expr}) AS BIGINT) AS clean_len,
       md5({expr}) AS clean_md5
FROM aug
"""


# ---------------------------------------------------------------------------
# End-to-end corpus preparation — the operators composed as ONE plan
# ---------------------------------------------------------------------------

QUALITY_CUTOFF = 0.5


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep as one declarative plan — quality
    scoring -> cutoff filter -> exact dedup (min-id canonical per
    md5) -> deterministic split assignment.  This is the query shape
    a real 100 TB corpus run executes nightly; Catalyst fuses the
    scoring projections, the dedup is one 16-byte-key shuffle, and
    the split is a pure hash projection — two exchanges total.

    Output: one row per surviving (unique, good-quality) document
    with its split.  Plan shape: scoring+filter fuse into the scan
    projection (``keep=`` passthrough, no score-join-back), the dedup
    is one 16-byte-md5 shuffle, and the canonical join is the single
    id join; the split is a pure hash projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs, "doc_id", "text", keep=("lang", "text"))
    good = scored.filter(F.col("quality") >= QUALITY_CUTOFF)
    canon = dedup.dedup_exact(good, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id"), "n_copies"
    )
    kept = good.join(canon, "doc_id")
    return sampling.train_val_test_split(
        kept.select("doc_id", "lang", "quality", "n_copies"), "doc_id"
    ).select("doc_id", "lang", "quality", "n_copies", "bucket", "split")


def _corpus_prep_oracle() -> str:
    bucket = _bucket_duckdb("split")
    return f"""
WITH docs AS (
    SELECT doc_id, lang, text, string_split(trim(text), ' ') AS words FROM documents
), m AS (
    SELECT doc_id, lang, text,
           round(0.3 * least(len(words) / 100.0, 1.0)
                 + 0.3 * (len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                          / greatest(len(text), 1))
                 + 0.2 * least(CAST(len(list_intersect(words,
                       {list(text.QUALITY_STOPWORDS)!r})) AS DOUBLE) / 3.0, 1.0)
                 + 0.2 * (len(list_distinct(words)) * 1.0 / greatest(len(words), 1.0)),
                 4) AS quality
    FROM docs
), good AS (
    SELECT * FROM m WHERE quality >= {QUALITY_CUTOFF}
), canon AS (
    SELECT md5(text) AS text_md5, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM good GROUP BY md5(text)
), kept AS (
    SELECT g.doc_id, g.lang, g.quality, c.n_copies
    FROM good g JOIN canon c ON g.doc_id = c.doc_id
), b AS ({bucket})
SELECT k.doc_id, k.lang, k.quality, k.n_copies, b.bucket,
       CASE WHEN b.bucket < 80 THEN 'train'
            WHEN b.bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM kept k JOIN b ON k.doc_id = b.doc_id
"""


# --- URL-canonicalization dedup ----------------------------------------------


def dedup_url_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup by canonicalization — the crawl-frontier/WARC-merge
    step that collapses scheme, ``www.``, tracking-parameter,
    fragment, and trailing-slash variants of one page BEFORE any
    content fetch or text dedup runs (a crawl that treats
    ``http://www.x.com/p?utm_source=a`` and ``https://x.com/p`` as two
    pages fetches and stores everything twice).

    Each document is dressed with a deterministic raw URL (variant
    chosen by ``doc_id div 40 % 4``, page identity by ``doc_id % 40``
    — both engines construct the same strings, keeping the operator a
    pure function of the corpus).  The canonicalizer is a chained
    regexp projection (case-insensitive scheme strip, ``www.`` strip,
    fragment strip, ``utm_*`` query strip, trailing-slash strip —
    production adds a per-parameter allowlist), then one exact
    group-by on the canonical form: n_docs, distinct raw variants,
    and the kept (minimum) doc id per page.

    Scale shape: canonicalization is map-side codegen; the dedup is
    ONE shuffle at canonical-URL grain with map-side partials — the
    same linear plan as ``dedup_exact_docs``.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 40).cast("string"),
    )
    v = F.expr("(doc_id div 40) % 4")
    raw = (
        F.when(v == 0, F.concat(F.lit("http://www."), base))
        .when(v == 1, F.concat(F.lit("https://"), base, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https://"), base, F.lit("?utm_source=feed&utm_medium=rss")))
        .otherwise(F.concat(F.lit("HTTP://"), base, F.lit("#section-2")))
    )
    canon = F.regexp_replace(raw, r"^[a-zA-Z]+://", "")
    canon = F.regexp_replace(canon, r"^www\.", "")
    canon = F.regexp_replace(canon, r"#.*$", "")
    canon = F.regexp_replace(canon, r"\?utm_[^#]*", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return (
        docs.select("doc_id", raw.alias("raw_url"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


DEDUP_URL_ORACLE = """
WITH raw AS (
    SELECT doc_id,
           CASE (doc_id // 40) % 4
             WHEN 0 THEN 'http://www.' || b
             WHEN 1 THEN 'https://' || b || '/'
             WHEN 2 THEN 'https://' || b || '?utm_source=feed&utm_medium=rss'
             ELSE 'HTTP://' || b || '#section-2'
           END AS raw_url
    FROM (SELECT doc_id,
                 'site' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) AS b
          FROM documents)
), canon AS (
    SELECT doc_id, raw_url,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(raw_url, '^[a-zA-Z]+://', ''),
                   '^www\\.', ''),
                 '#.*$', ''),
               '\\?utm_[^#]*', ''),
             '/$', '') AS canonical_url
    FROM raw
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM canon GROUP BY 1
"""


NORTHSTAR_QUERIES = [
    ("dedup_url_normalized", dedup_url_normalized, DEDUP_URL_ORACLE,
     "URL canonicalization (scheme/www/utm/fragment/slash) + exact page dedup"),
    ("dedup_exact_docs", dedup_exact_docs, DEDUP_EXACT_ORACLE,
     "exact dedup: canonical id per md5(text)"),
    ("dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_JACCARD_ORACLE,
     "exact word-bigram Jaccard near-dup pairs (>= 0.5)"),
    ("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle(),
     "MinHash(md5)x8 -> 2-band LSH candidate pairs"),
    ("dedup_neardup_lsh_verified", dedup_neardup_lsh_verified, _lsh_verified_oracle(),
     "two-stage near-dup: LSH candidates + exact Jaccard verify (scale path)"),
    ("dedup_clusters", dedup_clusters, _dedup_clusters_oracle(),
     "connected components over verified pairs -> canonical doc per cluster"),
    ("dedup_simhash", dedup_simhash, _simhash_oracle(),
     "16-bit SimHash fingerprints"),
    ("dedup_incremental_exact", dedup_incremental_exact_docs, INCR_EXACT_ORACLE,
     "incremental exact dedup: new batch anti-joined on the index's md5 set"),
    ("dedup_incremental_neardup", dedup_incremental_neardup_docs,
     _incr_neardup_oracle(),
     "incremental near-dup filter: new-bands x index-bands + Jaccard verify"),
    ("similarity_cosine_topk", similarity_cosine_topk, COSINE_TOPK_ORACLE,
     "brute-force cosine top-5 for 10 probes"),
    ("similarity_cosine_topk_arrow", similarity_cosine_topk_arrow, COSINE_TOPK_ORACLE,
     "same query, numpy/Arrow mapInPandas strategy (per-task partial top-k)"),
    ("similarity_lsh_topk", similarity_lsh_topk, _lsh_topk_oracle(),
     "sign-LSH bucketed ANN top-5 (md5-derived hyperplanes)"),
    ("similarity_lsh_knngraph", similarity_lsh_knngraph, _lsh_topk_oracle(""),
     "batch ANN k-NN graph: every vector probes; per-bucket GEMM + "
     "row-wise partial top-k (the batch-regime strategy)"),
    ("similarity_lsh_knngraph_mutual", similarity_lsh_knngraph_mutual,
     _lsh_knngraph_mutual_oracle(),
     "mutual k-NN edges (semantic-dedup / diversity graph): pair-keyed "
     "self-join of the k-NN graph, id_a < id_b canonical"),
    ("embedding_semdedup_clusters", embedding_semdedup_clusters,
     _semdedup_clusters_oracle(),
     "SemDeDup-style clusters: mutual k-NN edges at the near-dup "
     "threshold -> min-label connected components"),
    ("embedding_semdedup_keepers", embedding_semdedup_keepers,
     _semdedup_keepers_oracle(),
     "SemDeDup keeper policy over the CERTIFIED clusters: one kept "
     "representative per cluster by (quality proxy DESC, vec_id ASC) "
     "— norm proxy on embeddings, quality_score in a text pipeline"),
    ("embedding_semdedup_certified", embedding_semdedup_certified,
     _semdedup_certified_oracle(),
     "semantic-dup clusters from the CERTIFIED near-dup tier: "
     "mutual-k-NN-at-threshold computed exactly on the threshold "
     "pair set (rank window + pair-count mutuality), then min-label "
     "components — the recall-floored scale path"),
    ("gopher_repetition_rules", gopher_repetition_rules, GOPHER_REPETITION_ORACLE,
     "Gopher repetition filters: top/dup n-gram char mass + dup lines, one gram shuffle"),
    ("gopher_quality_rules", gopher_quality_rules, GOPHER_ORACLE,
     "Gopher (Rae et al. 2021) document filters: per-rule flags + keep in one scan"),
    ("ann_recall_audit", ann_recall_audit, ANN_RECALL_ORACLE,
     "recall@k of the IVF path vs brute-force top-k — engine-exact audit"),
    ("ann_recall_audit_kmeans", ann_recall_audit_kmeans, _ann_recall_kmeans_oracle(),
     "same audit over LEARNED k-means cells — recall at equal nprobe vs label-cells"),
    ("similarity_ivf_topk", similarity_ivf_topk, IVF_TOPK_ORACLE,
     "IVF-style ANN: centroid routing (nprobe=2) + in-cell exact search"),
    ("embedding_neardup_pairs", embedding_neardup_pairs, EMBEDDING_NEARDUP_ORACLE,
     "embedding-cosine near-dup pairs (exact all-pairs — verify stage ONLY, "
     "correctness-scale; never the default path)"),
    ("embedding_neardup_lsh_verified", embedding_neardup_lsh_verified,
     _neardup_lsh_oracle(),
     "two-stage embedding near-dup: sign-LSH candidates + exact cosine "
     "verify (scale path, self-sized planes, adaptive probe level)"),
    ("embedding_neardup_lsh_probe2", embedding_neardup_lsh_probe2,
     _neardup_lsh_oracle(NEARDUP_LSH_PROBE2_PLAN),
     "near-dup LSH at FORCED Hamming-<=2 coverage: symmetric radius-1 "
     "explode + per-bucket GEMM verify, the past-the-clamp scale path "
     "pinned to parity scale"),
    ("neardup_lsh_recall_audit", neardup_lsh_recall_audit,
     _neardup_lsh_recall_oracle(),
     "LSH near-dup recall/precision vs the exact tier — the n_tables "
     "tuning loop for the self-sized plane count"),
    ("text_token_stats", text_token_stats, TOKEN_STATS_ORACLE,
     "per-doc token stats incl. BPE-ish subword count"),
    ("text_lang_id", text_lang_id, _lang_id_oracle(),
     "stopword-evidence language ID with argmax"),
    ("lang_confusion_audit", lang_confusion_audit, _lang_confusion_oracle(),
     "lang-ID confusion matrix vs labels: per-cell counts + integer recall"),
    ("text_quality_scores", text_quality_scores, QUALITY_ORACLE,
     "heuristic quality scoring"),
    ("doc_fingerprints", doc_fingerprints, FINGERPRINT_ORACLE,
     "md5 content fingerprint (rolling hash pytest-only)"),
    ("word_count_top", word_count_top, WORD_COUNT_ORACLE,
     "explode+count wordcount"),
    ("text_tfidf_top_terms", text_tfidf_top_terms, TFIDF_ORACLE,
     "relational TF-IDF top-5 terms per doc (tf x broadcast df x N)"),
    ("multimodal_binary_meta", multimodal_binary_meta, MULTIMODAL_META_ORACLE,
     "binary payload size/checksum metadata (Catalyst-native)"),
    ("multimodal_decode_meta", multimodal_decode_meta, DECODE_META_ORACLE,
     "mapInPandas decode stage: REAL PNG/JPEG/GIF header parse, oracle-checked"),
    ("multimodal_byte_features", multimodal_byte_features, _byte_features_oracle(),
     "feature extraction: 16-bin byte histogram + entropy per payload (Arrow-batched)"),
    ("multimodal_resize_meta", multimodal_resize_meta, RESIZE_META_ORACLE,
     "resize stage: real header parse + target sizing, resample stubbed (honest boundary)"),
    ("text_pii_redaction", text_pii_redaction, _pii_oracle(),
     "PII scrub: count + redact emails/IPv4s/phones, codegen'd regex chain"),
    ("train_val_test_assignment", train_val_test_assignment, _split_oracle(),
     "deterministic md5-bucket train/val/test split (80/10/10)"),
    ("stratified_sample_docs", stratified_sample_docs, _stratified_oracle(),
     "per-language deterministic downsampling (training mixture)"),
    ("text_repetition_stats", text_repetition_stats, REPETITION_ORACLE,
     "within-doc repetition: dup line + dup trigram ratios, shuffle-free"),
    ("pack_token_budget", pack_token_budget, PACK_ORACLE,
     "sequence packing: token-budget bins via one window pass per group"),
    ("multimodal_frame_samples", multimodal_frame_samples, FRAME_SAMPLES_ORACLE,
     "mapInPandas fan-out frame sampling (stubbed codec, mechanics oracle-checked)"),
    ("multimodal_audio_chunks", multimodal_audio_chunks, AUDIO_CHUNKS_ORACLE,
     "Catalyst-native fixed-size byte chunking (no Python boundary)"),
    ("multimodal_audio_meta", multimodal_audio_meta, AUDIO_META_ORACLE,
     "real WAV/MP3 header decode (RIFF chunk walk + MPEG frame header)"),
    ("multimodal_pixel_stats", multimodal_pixel_stats, PIXEL_STATS_ORACLE,
     "REAL full-pixel BMP decode: numpy over BGR rows, integer pixel stats"),
    ("multimodal_png_pixel_stats", multimodal_png_pixel_stats,
     PNG_PIXEL_STATS_ORACLE,
     "REAL PNG decode, stdlib-only: CRC'd chunk walk + zlib inflate + unfilter"),
    ("bitext_margin_mining", bitext_margin_mining, BITEXT_MARGIN_ORACLE,
     "LASER/CCMatrix margin bitext mining: mutual k-NN + ratio margin, int-quantized"),
    ("bitext_margin_mining_cells", bitext_margin_mining_cells, BITEXT_MARGIN_CELLS_ORACLE,
     "bitext mining scale shape: same-cell shuffle-join candidates, identical margin tail"),
    ("bitext_cells_recall_audit", bitext_cells_recall_audit,
     BITEXT_CELLS_RECALL_ORACLE,
     "cells-tier bitext recall/precision vs the exact tier, engine-exact"),
    ("bitext_margin_mining_cells_kmeans", bitext_margin_mining_cells_kmeans,
     _bitext_kmeans_cells_sql(),
     "bitext cells tier over LEARNED k-means cells (geometry, not metadata)"),
    ("bitext_kmeans_recall_audit", bitext_kmeans_recall_audit,
     _bitext_kmeans_recall_oracle(),
     "learned-quantizer bitext recall vs exact — the re-clustering acceptance test"),
    ("bitext_margin_mining_lsh", bitext_margin_mining_lsh,
     _bitext_lsh_oracle(),
     "bitext mining over sign-LSH Hamming-1 multiprobe candidates — the scale path"),
    ("bitext_lsh_recall_audit", bitext_lsh_recall_audit,
     _bitext_lsh_recall_oracle(),
     "LSH-candidate bitext recall vs exact — flat across scale where cells decay"),
    ("hard_negative_mining_lsh", hard_negative_mining_lsh,
     _hardneg_lsh_oracle(),
     "hard negatives over sign-LSH multiprobe candidates, per-b derived tables"),
    ("hardneg_lsh_recall_audit", hardneg_lsh_recall_audit,
     _hardneg_lsh_recall_oracle(),
     "LSH-multiprobe hard-negative recall vs the exact tier, per probe"),
    ("lsh_topk_overlap_audit", lsh_topk_overlap_audit,
     _lsh_topk_overlap_oracle(),
     "LSH top-k tier exact-overlap — records the oversampling contract, not recall"),
    ("hard_negative_mining", hard_negative_mining, HARD_NEGATIVES_ORACLE,
     "contrastive-training prep: top-k different-label neighbors below the positive cap"),
    ("hard_negative_mining_cells", hard_negative_mining_cells,
     _hardneg_cells_oracle(),
     "hard-negative scale shape: sign-LSH cells + nprobe routing, no probe broadcast"),
    ("hardneg_cells_recall_audit", hardneg_cells_recall_audit,
     _hardneg_recall_oracle(),
     "cells-tier hard-negative recall vs the exact tier, engine-exact"),
    ("multimodal_pcm_stats", multimodal_pcm_stats, PCM_STATS_ORACLE,
     "REAL 16-bit PCM decode of the WAV data chunk: int16 sample stats"),
    ("corpus_prep_pipeline", corpus_prep_pipeline, _corpus_prep_oracle(),
     "end-to-end corpus prep: quality cutoff -> exact dedup -> split, one plan"),
    ("text_extract_urls", text_extract_urls, EXTRACT_URLS_ORACLE,
     "URL extraction (link-density / domain-frequency input)"),
    ("text_strip_html", text_strip_html, _strip_html_oracle(),
     "HTML hygiene: tag strip + entity decode + whitespace collapse"),
    ("url_domain_counts", url_domain_counts, URL_DOMAIN_ORACLE,
     "domain frequency via parse_url (blocklist/source-mix input)"),
]
