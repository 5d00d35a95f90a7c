"""Scale-native operators, round 6 second wave.

Operators a 100 TB pipeline needs beyond the reference surface,
each with an EXACT DuckDB oracle (no rows-only weakening):

* ``heavy_hitters_mg`` — two-pass approximate heavy hitters: a
  Misra-Gries sketch per partition (bounded memory, mergeable) emits
  a candidate set, then one exact recount restricted to candidates.
  The output is EXACT (the sketch only narrows the candidate set, and
  MG guarantees every item with global frequency > N/(cap+1) survives
  some partition sketch), which is what makes the SQL oracle fair.
* ``hll_distinct_audit`` — Spark's DataSketches HLL aggregate
  (``hll_sketch_agg`` / ``hll_union_agg``): per-group sketches plus a
  MERGED all-groups sketch, audited against exact distinct counts.
  The sketch estimates themselves are engine-specific, so the
  hash-checked columns are the exact counts and the within-tolerance
  verdicts — the audit runs in Spark, the oracle pins its outcome.
* ``scd2_user_segments`` — changelog → slowly-changing-dimension
  type-2 history: collapse each user's event stream into validity
  intervals ``[valid_from, valid_to)`` per segment run, open-ended
  for the current segment.  The MERGE-less batch form of the
  lakehouse SCD2 upsert (Delta MERGE is environment-gated; this is
  the same semantics as a pure shuffle-on-user window).
* ``pagerank_copurchase`` — 5 fixed-point PageRank iterations over
  the part co-purchase graph (parts sharing an order).  All
  arithmetic is INTEGER (rank mass in 1e-12 units, truncating
  division) so the result is bit-identical across engines, partition
  counts, and run order — the reproducibility discipline iterative
  float algorithms normally lack.
* ``kmeans_quantized_assign`` — 2 Lloyd iterations over embeddings
  quantized to integer millis: deterministic seeding (lowest-k
  vec_ids), integer squared distances, truncating-division centroid
  means.  Same fixed-point rationale: clustering that re-runs to the
  SAME assignment on any cluster layout.
* ``semdedup_embeddings`` — SemDeDup (Abbas et al. 2023): k-means
  the embedding space, then drop within-cluster cosine near-dups of
  an earlier-id vector.  The cosine decision is an exact integer
  cross-multiplication over the quantized vectors, so the kept-set
  is bit-stable and DuckDB-replayable.
* ``triangle_count_copurchase`` — exact triangle count + global
  clustering coefficient via the degree-oriented edge join
  (compact-forward): O(E^1.5) under any degree skew, deterministic
  orientation so DuckDB replays the exact count.  Correctness-only
  in the bench (the TPC-H-ish co-purchase graph is dense at sf0.1).
* ``quantile_sketch_audit`` — ``approx_percentile`` (mergeable GK
  sketch, the 100 TB quantile path) audited against its rank-error
  contract by exact recount; hash-checked columns are the exact
  percentiles and the verdicts, same discipline as the HLL audit.
* ``embedding_random_projection`` — sparse Johnson-Lindenstrauss
  +-1 projection (64 -> 16 dims) over integer-quantized vectors:
  the ANN-preprocessing step that cuts vector bytes 4x with
  JL-bounded distance distortion, bit-identical across engines.
* ``mixture_rebalance_corpus`` — resample the corpus to target
  per-domain proportions (the LLM "data mixture" knob): integer
  quota arithmetic + md5-rank selection, so the kept-document set is
  reproducible on any partitioning.
* ``rolling_hour_user_stats`` — value-based RANGE window frame
  (1-hour rolling count/sum over event time), the frame family the
  ROWS-frame showcase query does not cover.

Scale notes per function; none collects data to the driver beyond
k×dim centroid vectors (the canonical k-means sync) and one scalar
node count (PageRank's N).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.functions import text
from amazon_books_review_spark.operators.joins import broadcast_if_small
from amazon_books_review_spark.session import (
    fetch_if_small,
    local_frame,
    materialize,
    size_metrics,
)
from amazon_books_review_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# Misra-Gries two-pass heavy hitters
# ---------------------------------------------------------------------------

def mg_capacity(min_support: float) -> int:
    """Sketch capacity for a TARGET SUPPORT — the sizing API the raw
    cap constant lacked (VERDICT r10 #3: with a fixed cap, vocabulary
    growth silently pushes the recall floor N/(cap+1) above every
    item's frequency and the sketch evicts everything — the PERF.md
    100x curve recorded exactly that degenerate run).

    Returns the smallest cap whose Misra-Gries recall floor
    ``N/(cap+1)`` is <= ``min_support * N``: every item with frequency
    share > ``min_support`` is guaranteed to survive the sketch pass,
    INDEPENDENT of corpus or vocabulary size — support is a property
    of the question ("items above 2%"), capacity follows from it.
    Memory is O(1/min_support) per partition.
    """
    import math

    if not (0.0 < min_support < 1.0):
        raise ValueError(f"min_support must be in (0, 1), got {min_support}")
    return math.ceil(1.0 / min_support) - 1


#: the catalog query's target: items above a 1/51 frequency share
#: (cap 50 — same output contract as rounds 6-10, now derived).
MG_MIN_SUPPORT = 1.0 / 51.0
MG_CAPACITY = mg_capacity(MG_MIN_SUPPORT)


def mg_sketch_fn(cap: int):
    """Build a per-partition Misra-Gries summarizer over a ``word``
    column, for ``mapInPandas``.

    Batch-merged form (Agarwal et al., "Mergeable Summaries"): add the
    batch's value counts, and while more than ``cap`` keys remain,
    subtract the (cap+1)-th largest weight and drop non-positive keys.
    Memory is O(cap) regardless of partition size, and every word with
    true partition count > N_p/(cap+1) keeps positive weight — so the
    union over partitions contains every GLOBAL item above N/(cap+1)
    (pigeonhole over partition totals).
    """

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["word"].value_counts()
            acc = acc.add(vc, fill_value=0).astype("int64")
            if len(acc) > cap:
                thresh = acc.nlargest(cap + 1).iloc[-1]
                acc = acc - thresh
                acc = acc[acc > 0]
        yield pd.DataFrame({"word": acc.index.astype(str)})

    return sketch


def heavy_hitters(toks: DataFrame, min_support: float) -> DataFrame:
    """Exact heavy hitters (share > min_support) over a ``word``
    column via sketch-then-recount, capacity derived from the support.

    The sketch is sized by :func:`mg_capacity` (recall floor
    ``1/(cap+1) <= min_support``, so no target item is evicted), but
    the second-pass filter applies the REQUESTED support, not the
    sketch floor: for supports whose reciprocal is not an integer the
    floor is strictly looser (0.03 -> cap 33 -> floor 1/34 ~ 2.94%),
    and filtering on the floor would emit items below the promised
    threshold (ADVICE r11).  Both sides of the comparison run the
    same IEEE-double arithmetic: Spark multiplies doubles, and the
    DuckDB oracle CASTs the repr'd literal to DOUBLE first (ADVICE
    r12 — without the cast DuckDB parses it as DECIMAL and does exact
    decimal arithmetic, which can disagree with doubles exactly at
    integer-multiple boundaries like tot % 51 == 0).

    At 100 TB the first pass is the point: the full word histogram
    does not fit anywhere, but the MG candidate union is at most
    cap x partitions keys — broadcastable — and the second pass is a
    broadcast-semi-join-filtered partial agg, so the wide shuffle of a
    naive global wordcount never happens.  Output is exact, so a
    plain-SQL oracle is a fair check of the whole two-pass scheme.
    """
    cap = mg_capacity(min_support)
    cands = toks.mapInPandas(mg_sketch_fn(cap), "word string").distinct()
    counts = (
        toks.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.lit(float(min_support)) * F.col("tot"))
        .select("word", "n")
    )


def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: document tokens above a 1/51 frequency share
    (same contract as the fixed-cap form it replaces; the capacity is
    now DERIVED from MG_MIN_SUPPORT via :func:`mg_capacity`)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("word"))
    return heavy_hitters(toks, MG_MIN_SUPPORT)


HEAVY_HITTERS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
)
SELECT word, count(*) AS n
FROM toks
GROUP BY word
HAVING count(*) > CAST({MG_MIN_SUPPORT!r} AS DOUBLE) * (SELECT count(*) FROM toks)
"""


# ---------------------------------------------------------------------------
# HLL sketch audit (DataSketches hll_sketch_agg / hll_union_agg)
# ---------------------------------------------------------------------------

HLL_TOLERANCE = 0.05


def hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches, audited against exact.

    Per event_type a DataSketches HLL sketch estimates distinct users;
    the per-type sketches are then MERGED (``hll_union_agg``) into an
    all-types estimate — the property that makes HLL the 100 TB
    distinct-count operator (partial sketches combine without a
    re-scan, unlike COUNT(DISTINCT)'s full shuffle).  The audit
    asserts every estimate lands within 5% of exact; the oracle pins
    the exact counts and the expected verdicts, so a broken sketch
    path hash-mismatches instead of slipping through.
    """
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        "exact_users",
        F.hll_sketch_estimate("sk").alias("est"),
    )
    merged = (
        per_type.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(
            F.broadcast(
                events.agg(F.count_distinct("user_id").alias("exact_users"))
            )
        )
        .select(
            F.lit("ALL").alias("scope"),
            "exact_users",
            F.hll_sketch_estimate("sk").alias("est"),
        )
    )
    ok = (
        F.abs(F.col("est").cast("double") - F.col("exact_users"))
        <= F.lit(HLL_TOLERANCE) * F.col("exact_users")
    ).alias("est_within_tol")
    return typed.unionByName(merged).select("scope", "exact_users", ok)


HLL_AUDIT_ORACLE = """
SELECT 'type:' || event_type AS scope,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_tol
FROM events
GROUP BY event_type
UNION ALL
SELECT 'ALL' AS scope,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_tol
FROM events
"""


# ---------------------------------------------------------------------------
# KMV / theta sketch: distinct-INTERSECTION estimation (r8)
# ---------------------------------------------------------------------------

#: sketch size — set estimates carry ~1/sqrt(k) relative error and the
#: INTERSECTION estimate ~1/sqrt(k * Jaccard), so k sizes to the
#: intersection bar, not the set bar.  Sides smaller than k run in
#: EXACT MODE (theta = full space, estimate = the set itself) — the
#: standard KMV rule, which keeps the audit exact at the small SF
#: while the sketch path engages at sf0.01+.
KMV_K = 256
KMV_SALT = "kmv"
#: audit tolerance: ~3 intersection standard errors at k=256, J~0.2.
KMV_TOLERANCE = 0.40
_KMV_SPACE = 1 << 48  # md5-derived hash values are uniform in [0, 2^48)


def _kmv_hash(col):
    """Uniform 48-bit integer from md5 — exact in a long AND in a
    double (2^48 < 2^53), so every engine compares and divides it
    identically."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(KMV_SALT), F.lit("|"), col)), 1, 12),
        16, 10,
    ).cast("long")


def kmv_intersection_estimates(elems: DataFrame) -> DataFrame:
    """The reusable KMV core: ``elems`` carries (event_type, elem)
    with event_type in {'view', 'purchase'} naming the two sides;
    returns the 1-row audit frame (exact counts, sketch estimates,
    tolerance verdicts).  Factored out of the catalog query so
    synthetic-set accuracy tests (`tests/test_selection.py`) exercise
    the estimator at controlled sizes and overlaps."""
    from pyspark.sql import Window

    elems = elems.distinct().withColumn("h", _kmv_hash(F.col("elem")))
    w = Window.partitionBy("event_type").orderBy("h")
    sk = elems.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= KMV_K)
    # theta_eff: the k-th smallest hash in sketch mode; the FULL hash
    # space in exact mode (|side| < k) — the standard KMV convention
    # that makes the same estimator formula exact for small sets.
    thetas = sk.groupBy("event_type").agg(
        F.max("h").alias("theta_kth"), F.count(F.lit(1)).alias("n_sk")
    ).select(
        "event_type",
        "n_sk",
        F.when(F.col("n_sk") < KMV_K, F.lit(_KMV_SPACE))
        .otherwise(F.col("theta_kth"))
        .alias("theta"),
    )
    # Single conditional aggregate (mirrors the oracle's max(CASE WHEN ...)
    # form) so the audit frame always has exactly one row — the previous
    # filter-per-side frames went EMPTY when a side had no elements and the
    # crossJoins annihilated the result while the oracle still produced its
    # NULL-filled row (round-8 review).
    th = thetas.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("theta"))).alias("theta_a"),
        F.max(F.when(F.col("event_type") == "view", F.col("n_sk"))).alias("n_sk_a"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("theta"))).alias("theta_b"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("n_sk"))).alias("n_sk_b"),
    )
    s_a = sk.filter(F.col("event_type") == "view").select(F.col("h").alias("ha"))
    s_b = sk.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb")
    )
    common = (
        s_a.join(s_b, F.col("ha") == F.col("hb"))
        .crossJoin(F.broadcast(th))
        .filter(F.col("ha") < F.least("theta_a", "theta_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # count(CASE WHEN ...) — one row even on fully empty input (the pivot
    # form returned zero rows there).
    exact = elems.agg(
        F.count(F.when(F.col("event_type") == "view", F.lit(1))).alias("exact_a"),
        F.count(F.when(F.col("event_type") == "purchase", F.lit(1))).alias("exact_b"),
    )
    exact_inter = (
        elems.filter(F.col("event_type") == "view")
        .select("elem")
        .intersect(
            elems.filter(F.col("event_type") == "purchase").select("elem")
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    def side_est(theta, n_sk):
        # sketch mode: (k-1) * space / theta_kth; exact mode: |side|
        return F.round(
            F.when(
                F.col(n_sk) < KMV_K, F.col(n_sk).cast("double")
            ).otherwise(
                F.lit(KMV_K - 1) * F.lit(float(_KMV_SPACE)) / F.col(theta)
            ),
            2,
        )

    est_a = side_est("theta_a", "n_sk_a")
    est_b = side_est("theta_b", "n_sk_b")
    est_i = F.round(
        F.col("n_common")
        * F.lit(float(_KMV_SPACE))
        / F.least("theta_a", "theta_b"),
        2,
    )
    out = (
        common.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_inter))
        .select(
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            est_a.alias("est_a"),
            est_b.alias("est_b"),
            est_i.alias("est_inter"),
        )
    )
    tol = F.lit(KMV_TOLERANCE)
    return out.select(
        "exact_a", "exact_b", "exact_inter", "est_a", "est_b", "est_inter",
        (F.abs(F.col("est_a") - F.col("exact_a")) <= tol * F.col("exact_a")).alias("a_within_tol"),
        (F.abs(F.col("est_b") - F.col("exact_b")) <= tol * F.col("exact_b")).alias("b_within_tol"),
        (F.abs(F.col("est_inter") - F.col("exact_inter")) <= tol * F.col("exact_inter")).alias("inter_within_tol"),
    )


def kmv_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-INTERSECTION estimation via K-Minimum-Values (theta)
    sketches, audited against exact — the capability HLL does not
    have (HLL unions; it cannot intersect).

    Sets: A = distinct (user, day) pairs with a view event, B = same
    with a purchase.  Each side keeps its ``KMV_K`` smallest md5
    hash values; theta = the k-th smallest (or the full hash space in
    exact mode, when the side holds fewer than k elements).
    Estimates: |S| ~ (k-1) * 2^48 / theta, and for the intersection
    the standard theta-sketch rule — common survivors below
    min(theta_A, theta_B) scaled by the same factor.  Every quantity
    is exact integer arithmetic until the final rounded division, so
    the audit is engine-exact (no tolerance band needed on the HASH
    check; the tolerance verdicts assert the ESTIMATOR's accuracy
    contract).

    Scale shape: a KMV sketch is mergeable (union of k-smallest sets,
    re-trimmed to k) and the per-side build is a top-k by hash —
    Spark pushes the rank<=k filter below the shuffle
    (WindowGroupLimit, plan-asserted), so each partition ships only k
    candidates.  The EXACT columns are the audit harness, not the
    operator: at 100 TB you run the sketch side only, and this query
    is the acceptance test you run on a sample to certify the error
    bar.
    """
    events = load_table(spark, sf_dir, "events")
    elems = events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("elem"),
    )
    return kmv_intersection_estimates(elems)


def kmv_difference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set DIFFERENCE estimation from the same KMV/theta
    sketches as the intersection audit: |A\\B| ~ est(A) - est(A∩B) —
    completing the sketch algebra (union is HLL's native op,
    intersection and difference are theta's).  Audited against the
    exact difference; same engine-exact arithmetic discipline.

    Scale: zero additional sketch passes — the difference is derived
    from the intersection audit's own 1-row frame, so at 100 TB this
    is free once the intersection audit runs.
    """
    est = kmv_intersection_audit(spark, sf_dir)
    tol = F.lit(KMV_TOLERANCE)
    d_ab = F.round(F.col("est_a") - F.col("est_inter"), 2)
    d_ba = F.round(F.col("est_b") - F.col("est_inter"), 2)
    return est.select(
        (F.col("exact_a") - F.col("exact_inter")).alias("exact_a_minus_b"),
        (F.col("exact_b") - F.col("exact_inter")).alias("exact_b_minus_a"),
        d_ab.alias("est_a_minus_b"),
        d_ba.alias("est_b_minus_a"),
        (
            F.abs(d_ab - (F.col("exact_a") - F.col("exact_inter")))
            <= tol * (F.col("exact_a") - F.col("exact_inter"))
        ).alias("ab_within_tol"),
        (
            F.abs(d_ba - (F.col("exact_b") - F.col("exact_inter")))
            <= tol * (F.col("exact_b") - F.col("exact_inter"))
        ).alias("ba_within_tol"),
    )


def _kmv_difference_oracle() -> str:
    return f"""
WITH base AS ({{base}})
SELECT exact_a - exact_inter AS exact_a_minus_b,
       exact_b - exact_inter AS exact_b_minus_a,
       round(est_a - est_inter, 2) AS est_a_minus_b,
       round(est_b - est_inter, 2) AS est_b_minus_a,
       abs(round(est_a - est_inter, 2) - (exact_a - exact_inter))
           <= {KMV_TOLERANCE} * (exact_a - exact_inter) AS ab_within_tol,
       abs(round(est_b - est_inter, 2) - (exact_b - exact_inter))
           <= {KMV_TOLERANCE} * (exact_b - exact_inter) AS ba_within_tol
FROM base
""".format(base=_kmv_oracle())


def _kmv_hash_sql(expr: str) -> str:
    """DuckDB twin of `_kmv_hash`: 12 hex chars of md5 decoded by
    char-position arithmetic (no conv())."""
    digit = lambda i: f"(strpos('0123456789abcdef', substr(md5('{KMV_SALT}|' || {expr}), {i}, 1)) - 1)"  # noqa: E731
    val = digit(1)
    for i in range(2, 13):
        val = f"({val} * 16 + {digit(i)})"
    return val


def _kmv_oracle() -> str:
    space = float(_KMV_SPACE)
    return f"""
WITH elems AS (
    SELECT DISTINCT event_type,
           CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d') AS elem
    FROM events
    WHERE event_type IN ('view', 'purchase')
), hashed AS (
    SELECT event_type, elem, {_kmv_hash_sql('elem')} AS h FROM elems
), sk AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashed QUALIFY r <= {KMV_K}
), side AS (
    SELECT event_type, count(*) AS n_sk,
           CASE WHEN count(*) < {KMV_K} THEN {_KMV_SPACE}
                ELSE max(h) END AS theta
    FROM sk GROUP BY event_type
), thetas AS (
    SELECT
      max(CASE WHEN event_type = 'view' THEN theta END) AS theta_a,
      max(CASE WHEN event_type = 'view' THEN n_sk END) AS n_sk_a,
      max(CASE WHEN event_type = 'purchase' THEN theta END) AS theta_b,
      max(CASE WHEN event_type = 'purchase' THEN n_sk END) AS n_sk_b
    FROM side
), common AS (
    SELECT count(*) AS n_common
    FROM (SELECT h FROM sk WHERE event_type = 'view') a
    JOIN (SELECT h FROM sk WHERE event_type = 'purchase') b USING (h)
    CROSS JOIN thetas
    WHERE h < least(theta_a, theta_b)
), exact AS (
    SELECT
      count(CASE WHEN event_type = 'view' THEN 1 END) AS exact_a,
      count(CASE WHEN event_type = 'purchase' THEN 1 END) AS exact_b
    FROM elems
), exact_inter AS (
    SELECT count(*) AS exact_inter FROM (
      SELECT elem FROM elems WHERE event_type = 'view'
      INTERSECT
      SELECT elem FROM elems WHERE event_type = 'purchase')
), est AS (
    SELECT exact_a, exact_b, exact_inter,
           round(CASE WHEN n_sk_a < {KMV_K} THEN CAST(n_sk_a AS DOUBLE)
                 ELSE ({KMV_K} - 1) * {space} / theta_a END, 2) AS est_a,
           round(CASE WHEN n_sk_b < {KMV_K} THEN CAST(n_sk_b AS DOUBLE)
                 ELSE ({KMV_K} - 1) * {space} / theta_b END, 2) AS est_b,
           round(n_common * {space} / least(theta_a, theta_b), 2) AS est_inter
    FROM thetas CROSS JOIN common CROSS JOIN exact CROSS JOIN exact_inter
)
SELECT exact_a, exact_b, exact_inter, est_a, est_b, est_inter,
       abs(est_a - exact_a) <= {KMV_TOLERANCE} * exact_a AS a_within_tol,
       abs(est_b - exact_b) <= {KMV_TOLERANCE} * exact_b AS b_within_tol,
       abs(est_inter - exact_inter) <= {KMV_TOLERANCE} * exact_inter
           AS inter_within_tol
FROM est
"""


# ---------------------------------------------------------------------------
# SCD2: changelog -> type-2 dimension history
# ---------------------------------------------------------------------------


def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each user's event changelog into SCD2 validity rows.

    Islands of consecutive identical ``event_type`` become one row
    with ``valid_from`` = first event time, ``valid_to`` = next
    island's start (NULL => current).  One shuffle on ``user_id``
    serves every window; at scale the changelog is already
    partitionable by the dimension key, so this is the standard
    shuffle-once SCD2 build (the MERGE-less batch equivalent of the
    Delta upsert the environment gates out).
    """
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg")
    )
    isl = events.select("user_id", "ts", "event_id", "event_type", chg).withColumn(
        "seg", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    segs = isl.groupBy("user_id", "seg").agg(
        F.min("event_type").alias("segment"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return segs.select(
        "user_id",
        "segment",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    ).withColumn("is_current", F.col("valid_to").isNull())


SCD2_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
    FROM events
), isl AS (
    SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS seg
    FROM ordered
), segs AS (
    SELECT user_id, seg,
           min(event_type) AS segment,
           min(ts) AS valid_from,
           count(*) AS n_events
    FROM isl GROUP BY user_id, seg
)
SELECT user_id, segment, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       n_events,
       (lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL)
           AS is_current
FROM segs
"""


# ---------------------------------------------------------------------------
# Co-purchase edge derivation (shared by PageRank / triangles / reach)
# ---------------------------------------------------------------------------


def copurchase_edges(
    li: DataFrame, directed: bool, max_fanout: int | None = None
) -> DataFrame:
    """Distinct co-purchase edges (parts sharing an order) via
    per-order part-set aggregation + in-row pair explosion — one
    shuffle on the order key instead of the fact self-join's second
    join shuffle (measured 1.6x faster at sf0.1, identical edge set).

    Precondition of the default path: per-order distinct-part fan-out
    is BOUNDED (TPC-H-ish orders hold <= ~13 parts), so the collected
    set and the <=169-pair explosion stay row-sized.

    ``max_fanout`` (r6 verdict #6) implements the documented fallback
    as an actual switch: orders whose distinct-part count exceeds the
    threshold are EXCLUDED from ``collect_set`` entirely (the huge
    group never materializes as one row) and take the self-join form,
    whose shuffle cost is the price of not holding a hot group in one
    row.  Both branches emit the identical pair semantics; the union
    dedups once.  The knob costs an extra fan-count aggregation and a
    count join, so the default (None) keeps the single-shuffle set
    path for relations with a known fan-out bound — flip it on for
    inputs where one "order" can be a basket of millions.

    ``directed=True`` emits both (src, dst) and (dst, src);
    ``directed=False`` emits each undirected edge once as u < v.
    """

    def finish(pairs: DataFrame) -> DataFrame:
        if directed:
            pairs = pairs.filter(F.col("src") != F.col("dst"))
        else:
            pairs = pairs.filter(F.col("src") < F.col("dst")).select(
                F.col("src").alias("u"), F.col("dst").alias("v")
            )
        return pairs.distinct()

    if max_fanout is None:
        sets = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        pairs = sets.select(F.explode("ps").alias("src"), "ps").select(
            "src", F.explode("ps").alias("dst")
        )
        return finish(pairs)

    lp = li.select("l_orderkey", "l_partkey").distinct()
    fan = lp.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("fan"))
    keyed = lp.join(fan, "l_orderkey")
    bounded = keyed.filter(F.col("fan") <= max_fanout)
    wide = keyed.filter(F.col("fan") > max_fanout)
    sets = bounded.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    set_pairs = sets.select(F.explode("ps").alias("src"), "ps").select(
        "src", F.explode("ps").alias("dst")
    )
    join_pairs = wide.select("l_orderkey", F.col("l_partkey").alias("src")).join(
        wide.select("l_orderkey", F.col("l_partkey").alias("dst")),
        "l_orderkey",
    ).select("src", "dst")
    return finish(set_pairs.unionByName(join_pairs))


# --- Co-purchase PMI (r8) --------------------------------------------------

PMI_MIN_SUPPORT = 3  # pairs must co-occur in >= this many orders
PMI_TOP = 100


def copurchase_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of co-purchased part pairs —
    the lift statistic behind association/"bought together" surfacing:
    PMI(a,b) = ln( n_ab * N / (n_a * n_b) ) over order baskets.

    Unlike `copurchase_edges` (distinct edges), PMI needs the
    CO-OCCURRENCE COUNT per pair, so the per-order set explosion
    keeps one row per (order, pair) before the pair rollup — still
    the single order-key shuffle, same bounded-fan-out precondition
    (the `max_fanout` self-join fallback applies identically at
    basket scale).  Item marginals and the order total roll up from
    the same distinct (order, part) table; both joins on the pair
    table are vocabulary-sized.  `PMI_MIN_SUPPORT` kills the
    long-tail n_ab=1 pairs (whose PMI is pure noise) BEFORE the
    marginal joins; output is the global top-`PMI_TOP` by (pmi,
    pair) — deterministic, TakeOrdered-sized.
    """
    from pyspark.sql import Window

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n = li.agg(F.count_distinct("ok").alias("n_orders"))  # 1-row broadcast
    marg = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    sets = li.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    pair_counts = (
        sets.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_SUPPORT)
    )
    scored = (
        pair_counts.join(
            F.broadcast(marg.select(F.col("pk").alias("a"), F.col("n_item").alias("n_a"))), "a"
        )
        .join(
            F.broadcast(marg.select(F.col("pk").alias("b"), F.col("n_item").alias("n_b"))), "b"
        )
        .join(F.broadcast(n))
        .select(
            "a", "b", "n_ab", "n_a", "n_b",
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n_orders").cast("double")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PMI_TOP)
        .select("a", "b", "n_ab", "n_a", "n_b", "pmi", F.col("rank").cast("long").alias("rank"))
    )


PMI_ORACLE = f"""
WITH lp AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), n AS (
    SELECT count(DISTINCT ok) AS n_orders FROM lp
), marg AS (
    SELECT pk, count(*) AS n_item FROM lp GROUP BY pk
), pairs AS (
    SELECT a.pk AS a, b.pk AS b, count(*) AS n_ab
    FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
    HAVING count(*) >= {PMI_MIN_SUPPORT}
), scored AS (
    SELECT p.a, p.b, p.n_ab,
           ma.n_item AS n_a, mb.n_item AS n_b,
           round(ln(p.n_ab * CAST(n.n_orders AS DOUBLE)
                    / (ma.n_item * mb.n_item)), 6) AS pmi
    FROM pairs p
    JOIN marg ma ON ma.pk = p.a
    JOIN marg mb ON mb.pk = p.b
    CROSS JOIN n
)
SELECT a, b, n_ab, n_a, n_b, pmi,
       row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS rank
FROM scored
QUALIFY rank <= {PMI_TOP}
"""


PR_SCALE = 1_000_000_000_000  # rank mass in 1e-12 units
PR_ITERS = 5
PR_TOP = 20


def pagerank_rounds(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """``iters`` synchronous int64 PageRank rounds over a distinct
    directed edge list ``(src, dst)`` (as :func:`copurchase_edges`
    emits it) -> ``(node, r)``.

    ``n_nodes`` is the number of distinct ``src``; every one starts at
    ``init = PR_SCALE // n_nodes``; a round sends ``r div deg`` along
    each out-edge of a ranked node, and a node that receives
    ``recv`` ranks ``base + (85 * recv) div 100`` with
    ``base = (15 * init) // 100``.  Only nodes that receive
    contributions keep a rank (the oracle's inner joins).

    The edge list is materialized once, with its degree, and an
    ``Observation`` on that job yields its size and ``n_nodes``.  When
    it fits the broadcast threshold the rounds run on the driver
    (:func:`_pagerank_local`, see ``session.materialize``); otherwise
    each round is one join of the node-sized rank table against the
    static edge frame plus one ``groupBy(dst)``, materialized.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_books_review_spark.operators.metrics import with_observation

    # Pay the edge-side work ONCE: degree via a window over the same
    # src partitioning (no groupBy+re-join round trip), re-cluster by
    # dst, materialize.  Every iteration then broadcast-joins the
    # node-sized rank table against this static frame — zero
    # per-iteration edge-side shuffle beyond the narrow (dst, contrib)
    # aggregate.  (Valid while nodes are dimension-sized, as here —
    # parts are bounded; past the configured node budget
    # broadcast_if_small drops the hint and the join degrades to a
    # shuffle join on src.)  The graph order rides the same window
    # spec, so it costs no sort: over distinct edges each src has one
    # edge to its smallest dst, and the observation sums those.
    #
    # The ``repartition("dst")`` is LOAD-BEARING, but not for the
    # reason the pre-r19 comment implied: the checkpoint scan does
    # come back as UnknownPartitioning (EXP3 r19), so the per-round
    # groupBy(dst) still plans an Exchange — what survives is the
    # physical BLOCK CLUSTERING.  Over dst-clustered blocks each
    # iteration's partial aggregation emits ~|nodes|/P rows per map
    # task; over the window's src-clustered blocks every task sees
    # nearly every dst and emits ~|nodes| rows — P× the exchanged
    # rows, every iteration (guide §2.3: partial aggregation
    # compresses by distinct keys PER MAP TASK, which block layout
    # controls).  r19 removed this exchange on the metadata argument
    # and the driver measured pagerank 2.62 → 5.20/3.35; the r20
    # interleaved A/B (scripts/r20_exp_regressions.py +
    # r20_exp_repart.py) read HEAD 4.35 median vs 3.17 restored /
    # 3.20 with the checkpointed-node seed kept — restored.
    w_deg = Window.partitionBy("src")
    first = F.col("dst") == F.min("dst").over(w_deg)
    observed, obs = with_observation(
        edges.select(
            "src", "dst",
            F.count(F.lit(1)).over(w_deg).alias("deg"),
            first.cast("long").alias("_first"),
        ),
        {**size_metrics("src", "dst"), "n_nodes": F.sum("_first")},
    )
    edges_deg = (
        observed.select("src", "dst", "deg").repartition("dst").transform(materialize)
    )
    seen = obs.get
    n_nodes = seen["n_nodes"] or 0  # a sum over no rows is null
    tbl = fetch_if_small(edges_deg, seen["n"], seen["nulls"])
    if tbl is not None:
        node, r = _pagerank_local(
            *(tbl.column(c).to_numpy() for c in ("src", "dst", "deg")), iters
        )
        schema = StructType([
            StructField("node", edges_deg.schema["dst"].dataType),
            StructField("r", LongType()),
        ])
        return local_frame(edges.sparkSession, {"node": node, "r": r}, schema)
    init = PR_SCALE // n_nodes
    base = (15 * init) // 100
    # Round 1 needs no rank join: every src ranks init.
    ranks = edges_deg.select("src", "dst", "deg", F.lit(init).cast("long").alias("r"))
    for i in range(iters):
        if i:
            ranks = edges_deg.join(
                broadcast_if_small(ranks, n_nodes),
                edges_deg["src"] == ranks["node"],
            )
        ranks = (
            ranks.select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("recv"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.expr("(85 * recv) div 100")).alias("r"),
            )
            .transform(materialize)
        )
    if not iters:
        ranks = ranks.select(F.col("src").alias("node"), "r").distinct()
    return ranks


def _pagerank_local(
    src: np.ndarray, dst: np.ndarray, deg: np.ndarray, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`pagerank_rounds` on the driver: the same rounds over the
    fetched ``(src, dst, deg)`` arrays, in int64.  Every operand is
    non-negative, so numpy's floor division is Spark's ``div``."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: len(src)], idx[len(src):]
    deg = deg.astype(np.int64)
    init = PR_SCALE // np.unique(s).size
    base = (15 * init) // 100
    ranked = np.zeros(len(ids), bool)
    ranked[s] = True
    r = np.full(len(ids), init, np.int64)
    for _ in range(iters):
        live = ranked[s]
        recv = np.zeros(len(ids), np.int64)
        np.add.at(recv, d[live], r[s[live]] // deg[live])
        ranked = np.zeros(len(ids), bool)
        ranked[d[live]] = True
        r = base + (85 * recv) // 100
    keep = np.flatnonzero(ranked)
    return ids[keep], r[keep]


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 5 iterations) over parts co-purchased in the
    same order, in pure int64 fixed-point.

    Why integer: float PageRank sums neighbor contributions in
    partition order, so the low bits differ run-to-run and
    engine-to-engine — un-oracle-able and un-reproducible.  Holding
    rank mass in 1e-12 units with truncating division makes every
    iteration bit-exact everywhere (Spark ``div`` == DuckDB ``//`` on
    positive operands), at the cost of ~1e-12 leaked mass per divide,
    which is irrelevant at any real tolerance.

    Scale shape: co-purchase edges are bounded per order (TPC-H-ish
    orders hold <= ~13 distinct parts), so edges grow LINEARLY with
    orders.  Each iteration is one join of the (nodes-sized) rank
    table against edges partitioned by src plus one groupBy dst — the
    standard vertex-program shuffle pair; ranks are dimension-sized
    and broadcastable when parts << lineitems.  Each round is
    materialized, which truncates the 5-iteration lineage like the
    connected-components operator (functions/dedup.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    ranks = pagerank_rounds(copurchase_edges(li, directed=True))
    from pyspark.sql import Window

    from amazon_books_review_spark.operators.windows import global_top_k

    # TakeOrdered top-20 first (per-partition top-k + k-row merge — no
    # global sort); the rank window then runs over 20 rows only.
    top = global_top_k(ranks, [F.col("r").desc(), F.col("node").asc()], PR_TOP)
    w = Window.orderBy(F.col("r").desc(), F.col("node").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("node").alias("p_partkey"),
        F.col("r").alias("rank_units"),
        "rnk",
    )


def _pagerank_oracle() -> str:
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        (
            "edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst"
            " FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey"
            " AND a.l_partkey <> b.l_partkey)"
        ),
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        (
            f"r0 AS (SELECT src AS node, {PR_SCALE} // (SELECT n FROM nn) AS r"
            " FROM deg)"
        ),
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"r{i} AS (SELECT e.dst AS node, "
            f"(15 * ({PR_SCALE} // (SELECT n FROM nn))) // 100 "
            f"+ (85 * sum(r.r // d.deg)) // 100 AS r "
            f"FROM edges e "
            f"JOIN r{i - 1} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.src "
            f"GROUP BY e.dst)"
        )
    ctes.append(
        f"ranked AS (SELECT node, r, row_number() OVER "
        f"(ORDER BY r DESC, node ASC) AS rnk FROM r{PR_ITERS})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_units, rnk"
        f" FROM ranked WHERE rnk <= {PR_TOP}"
    )


# ---------------------------------------------------------------------------
# Quantized k-means (2 Lloyd iterations, deterministic)
# ---------------------------------------------------------------------------

KM_K = 10
KM_ITERS = 2
KM_DIM = 64
KM_Q = 1000  # quantization: integer millis


def _km_assign(qdf: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Assign each quantized vector to its nearest centroid (exact
    integer squared L2; ties break to the lowest centroid id).

    Arrow-vectorized (``mapInPandas``): per batch one int64
    ``(B, dim) @ (dim, k)`` matmul plus the norm expansion
    ``|q|^2 - 2 q.c + |c|^2`` — all int64, bit-identical to the
    elementwise definition, and ``argmin`` on ties returns the first
    (= lowest) centroid id, matching the oracle's tie rule.  This
    replaced a k x dim chain of interpreted higher-order-function
    expressions that dominated the profile (2.6x on the assignment
    pass at sf0.1, k=25); the map stage itself stays shuffle-free, so
    the plan budget (zero Exchange) is unchanged.
    """
    import numpy as np

    cmat = np.array([cv for _, cv in centroids], dtype=np.int64).T  # dim x k
    cnorm = (cmat.astype(np.int64) ** 2).sum(axis=0)  # k

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # B x dim
            d = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ cmat) + cnorm
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qv": pdf["qv"],
                    "dist_sq": d.min(axis=1).astype(np.int64),
                    "cluster": d.argmin(axis=1).astype(np.int64),
                }
            )

    return qdf.mapInPandas(
        assign, schema="vec_id bigint, qv array<bigint>, dist_sq bigint, cluster bigint"
    )


#: Below this k, brute-force n x k assignment beats two-level routing
#: (the coarse pass alone costs n x g; routing only wins once
#: k >> 2*sqrt(k)).  At or above it, `_km_final_assignment` switches
#: to `_km_assign_routed` automatically — this is the r6-verdict fix
#: for SemDeDup's super-linear n x k term when k scales with n.
KM_ROUTE_MIN_K = 64


def _coarse_cells(centroids: list[tuple[int, list[int]]], g: int):
    """Partition the k fine centroids into coarse cells.

    Coarse seeds are the fine centroids whose CLUSTER ID is < g —
    matching the oracle's ``co.cid < g`` predicate exactly, NOT list
    position: if a cid < g cluster empties during a Lloyd iteration
    (its centroid drops out of the list), positions shift but ids do
    not, and the surviving seeds stay aligned with the SQL replay.
    Every fine centroid joins the cell of its nearest seed (exact
    int64 squared L2, ties to the lowest seed id), except the seeds
    themselves which anchor their own cells (guarantees every
    routable cell is non-empty even under exact centroid collisions).
    All driver-side: k x g x dim integer ops on at most a few
    thousand centroids.
    """
    import numpy as np

    fmat = np.array([cv for _, cv in centroids], dtype=np.int64)  # k x dim
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    seed_mask = cids < g  # centroids arrive sorted by cid, so seeds stay ascending
    if not seed_mask.any():
        raise ValueError(
            f"routed assignment: every seed cluster (cid < {g}) emptied — "
            "cannot route; rerun with a larger g or route=False"
        )
    gmat = fmat[seed_mask]
    d = (
        (fmat * fmat).sum(axis=1, keepdims=True)
        - 2 * (fmat @ gmat.T)
        + (gmat * gmat).sum(axis=1)
    )  # k x n_seeds
    cell_of = d.argmin(axis=1)  # ties -> first = lowest seed id (ascending)
    cell_of[seed_mask] = np.arange(int(seed_mask.sum()))  # seeds anchor their own cells
    return gmat, cell_of


def _km_assign_routed(
    qdf: DataFrame, centroids: list[tuple[int, list[int]]], g: int
) -> DataFrame:
    """Two-level (coarse -> fine) nearest-centroid assignment.

    Each point first finds its nearest of g coarse seeds (n x g
    matmul), then the nearest FINE centroid within that seed's cell
    (n x k/g average).  Total n x (g + k/g) ~ n x 2*sqrt(k) at
    g = sqrt(k) — the IVF cell-routing idea applied to the Lloyd
    assignment itself, which is what keeps SemDeDup linear when k
    scales with the corpus (r6 verdict #2: brute force measured
    63.6x wall at 100x scale; see PERF.md).

    APPROXIMATE by contract: a point whose true nearest fine centroid
    lives in a different coarse cell gets its best in-cell centroid
    instead.  But fully DETERMINISTIC — both levels break ties to the
    lowest id — so the result is bit-identical on any partitioning
    and DuckDB can replay it CTE-for-CTE (`_kmeans_routed_ctes`).
    With g=1 the route degenerates to exact brute force (equivalence
    pytest pins that).
    """
    import numpy as np

    fmat = np.array([cv for _, cv in centroids], dtype=np.int64)  # k x dim
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    gmat, cell_of = _coarse_cells(centroids, g)
    n_cells = gmat.shape[0]  # < g only if a seed cluster emptied mid-Lloyd
    gT = gmat.T
    gnorm = (gmat * gmat).sum(axis=1)
    cells = [np.nonzero(cell_of == j)[0] for j in range(n_cells)]
    cell_T = [fmat[ids].T for ids in cells]  # ids ascending -> argmin=lowest
    cell_norm = [(fmat[ids] * fmat[ids]).sum(axis=1) for ids in cells]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # B x dim
            qn = (q * q).sum(axis=1, keepdims=True)
            coarse = (qn - 2 * (q @ gT) + gnorm).argmin(axis=1)
            cluster = np.empty(len(q), dtype=np.int64)
            dist = np.empty(len(q), dtype=np.int64)
            for j in range(n_cells):
                m = coarse == j
                if not m.any():
                    continue
                dj = qn[m] - 2 * (q[m] @ cell_T[j]) + cell_norm[j]
                loc = dj.argmin(axis=1)
                cluster[m] = cids[cells[j][loc]]
                dist[m] = dj[np.arange(len(loc)), loc]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qv": pdf["qv"],
                    "dist_sq": dist,
                    "cluster": cluster,
                }
            )

    return qdf.mapInPandas(
        assign, schema="vec_id bigint, qv array<bigint>, dist_sq bigint, cluster bigint"
    )


def kmeans_quantized_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 Lloyd iterations over embeddings quantized to integer millis.

    Seeding is the k lowest ``vec_id`` vectors (deterministic, no
    RNG); distances are exact int64 squared-L2; centroid update is
    element-wise truncating-division mean.  The result is therefore
    bit-identical on any partitioning and any engine — the oracle
    replays the identical arithmetic in SQL.

    Scale shape: the only driver sync is k x dim centroid ints per
    iteration (the canonical k-means broadcast, same discipline as
    the similarity module's probe broadcast); the data-side work per
    iteration is one scan + one (cluster, dim)-keyed agg whose
    cardinality is k*dim regardless of corpus size.
    """
    return _km_final_assignment(spark, sf_dir).select(
        "vec_id", "cluster", "dist_sq"
    )


def km_k_for(n: int, target_occupancy: int, k_min: int = 2, k_max: int = 4096) -> int:
    """Cluster count for a TARGET CELL OCCUPANCY — the k-means
    counterpart of :func:`mg_capacity` / ``similarity.lsh_planes_for``
    (VERDICT r13 #1: a k pinned at the small-corpus value makes cell
    occupancy n/k grow linearly and the within-cell candidate join
    quadratic — the real sf1 run measured 36.6x wall for 10x data at
    fixed k=10 vs 5.74x with k scaled).

    ``k = clamp(ceil(n / target_occupancy), k_min, k_max)`` in pure
    integer arithmetic, so an external engine replays the derivation
    exactly (``GREATEST(k_min, LEAST(k_max, (n + occ - 1) // occ))``).
    ``k_max`` bounds the per-iteration driver sync at k x dim ints —
    4096 x 64 int64s is a ~2 MB broadcast, still the canonical
    k-means discipline.
    """
    if target_occupancy <= 0:
        raise ValueError(f"target_occupancy must be > 0, got {target_occupancy}")
    if not (0 < k_min <= k_max):
        raise ValueError(f"bad k bounds [{k_min}, {k_max}]")
    return max(k_min, min(k_max, (n + target_occupancy - 1) // target_occupancy))


def _km_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = KM_K,
    route: bool | None = None,
    g: int | None = None,
):
    """Run the ``KM_ITERS``-iteration Lloyd loop and return
    ``(qdf, centroids, assign_pass)`` — the quantized vectors, the
    FINAL centroid list, and the assignment strategy — so callers can
    take the standard nearest-cell assignment
    (:func:`_km_final_assignment`) or the IVF multi-assignment
    (:func:`_km_assign_multiprobe`) over the same fit.

    ``route=None`` auto-selects: brute-force n x k assignment below
    ``KM_ROUTE_MIN_K``, coarse-cell routing (``_km_assign_routed``,
    g ~ sqrt(k)) at or above it.  Routing applies to EVERY assignment
    pass including the Lloyd iterations — at k ~ n the iteration
    assignments are the same super-linear term as the final one.
    """
    import math

    if route is None:
        route = k >= KM_ROUTE_MIN_K
    if g is None:
        g = max(1, math.isqrt(k))

    def assign_pass(df: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
        if route:
            return _km_assign_routed(df, cents, g)
        return _km_assign(df, cents)

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * KM_Q).cast("long"),
        ).alias("qv"),
    )
    seeds = qdf.orderBy("vec_id").limit(k).collect()  # k x dim ints
    centroids = [(i, list(r["qv"])) for i, r in enumerate(seeds)]
    for _ in range(KM_ITERS - 1):
        assigned = assign_pass(qdf, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
            .select("cluster", "pos", F.expr("s div c").alias("m"))
            .collect()
        )
        by_cluster: dict[int, list[int]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], [0] * KM_DIM)[r["pos"]] = r["m"]
        centroids = [(cid, by_cluster[cid]) for cid in sorted(by_cluster)]
    return qdf, centroids, assign_pass


def _km_final_assignment(
    spark: SparkSession,
    sf_dir: str,
    k: int = KM_K,
    route: bool | None = None,
    g: int | None = None,
) -> DataFrame:
    """The converged (vec_id, qv, cluster, dist_sq) frame after
    ``KM_ITERS`` Lloyd iterations — shared by the k-means catalog
    query and the SemDeDup operator built on its clustering (which
    runs a larger ``k``).  Fit + one final assignment pass over
    :func:`_km_fit`."""
    qdf, centroids, assign_pass = _km_fit(spark, sf_dir, k=k, route=route, g=g)
    return assign_pass(qdf, centroids)


def _km_assign_multiprobe(
    qdf: DataFrame,
    centroids: list[tuple[int, list[int]]],
    nprobe: int,
    route: bool = False,
    g: int | None = None,
) -> DataFrame:
    """IVF MULTI-ASSIGNMENT: each vector routed to its ``nprobe``
    nearest centroids (exact int64 squared L2, ties to the lowest
    centroid id) — one (vec_id, cluster) row per probe cell.

    This is the recall lever the single-assignment cells tiers lack
    (VERDICT r13 #2): a pair whose two sides straddle a cell boundary
    is invisible to a same-cell join, but probing the source side into
    its nprobe nearest cells recovers exactly the near-boundary mass —
    the same multi-assignment that lifted the IVF ANN audit's recall
    (ann_recall_audit: 30 -> 94 across nprobe widths).

    Determinism: distances are the k-means family's exact int64
    arithmetic; ``argsort(kind='stable')`` over centroid columns in
    ascending-cid order breaks ties to the lowest cid — the same rule
    as ``row_number() OVER (ORDER BY dist_sq ASC, cid ASC)``, so
    DuckDB replays the routing with ``rn <= nprobe``.

    ``route=True`` is the large-k path (k >= KM_ROUTE_MIN_K, the
    :func:`_km_assign_routed` discipline): the point first finds its
    nearest of g coarse seeds (n x g), then its top-nprobe FINE
    centroids within that seed's cell (n x k/g) — approximate by the
    same contract as routed single-assignment (a true top-nprobe
    centroid in another coarse cell is missed), deterministic at both
    levels, and degenerating to exact brute force at g=1 (pytest pins
    the equivalence).
    """
    import math

    import numpy as np

    if route and g is None:
        g = max(1, math.isqrt(len(centroids)))

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    fmat = np.array([cv for _, cv in centroids], dtype=np.int64)  # k x dim

    if not route:
        cmat = fmat.T  # dim x k
        cnorm = (fmat * fmat).sum(axis=1)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # B x dim
                d = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ cmat) + cnorm
                npk = min(nprobe, d.shape[1])
                # stable sort over cid-ascending columns => ties -> lowest cid
                idx = np.argsort(d, axis=1, kind="stable")[:, :npk]
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(pdf["vec_id"].to_numpy(), npk),
                        "cluster": cids[idx].reshape(-1),
                    }
                )

        return qdf.mapInPandas(assign, schema="vec_id bigint, cluster bigint")

    gmat, cell_of = _coarse_cells(centroids, g)
    n_cells = gmat.shape[0]
    gT = gmat.T
    gnorm = (gmat * gmat).sum(axis=1)
    cells = [np.nonzero(cell_of == j)[0] for j in range(n_cells)]
    cell_T = [fmat[ids].T for ids in cells]  # ids ascending -> stable=lowest cid
    cell_norm = [(fmat[ids] * fmat[ids]).sum(axis=1) for ids in cells]

    def assign_routed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            qn = (q * q).sum(axis=1, keepdims=True)
            coarse = (qn - 2 * (q @ gT) + gnorm).argmin(axis=1)
            out_vec: list[np.ndarray] = []
            out_cl: list[np.ndarray] = []
            for j in range(n_cells):
                m = coarse == j
                if not m.any():
                    continue
                dj = qn[m] - 2 * (q[m] @ cell_T[j]) + cell_norm[j]
                npk = min(nprobe, dj.shape[1])
                idx = np.argsort(dj, axis=1, kind="stable")[:, :npk]
                out_vec.append(np.repeat(pdf["vec_id"].to_numpy()[m], npk))
                out_cl.append(cids[cells[j][idx]].reshape(-1))
            if out_vec:
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_vec),
                        "cluster": np.concatenate(out_cl),
                    }
                )

    return qdf.mapInPandas(assign_routed, schema="vec_id bigint, cluster bigint")


def _kmeans_ctes(k: int | str = KM_K) -> list[str]:
    # CTE chain shared by the k-means and SemDeDup oracles; the final
    # assignment CTE is a{KM_ITERS - 1} with (vec_id, qv, cluster,
    # dist_sq).  Assignment expression against a centroid CTE named
    # `cname`: nearest centroid id (ties -> lowest id), its distance.
    # ``k`` may be a SQL scalar expression (string) instead of an int
    # — the self-sizing replay path: the seed CTE then takes the first
    # rn <= (k) rows instead of a literal LIMIT, so the cluster count
    # can be derived from count(*) inside the query itself.
    def assign(cname: str) -> str:
        dist = (
            "list_sum(list_transform(range(1, {d} + 1), "
            "i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
            " * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))"
        ).format(d=KM_DIM)
        return (
            "SELECT vec_id, qv, cluster, dist_sq FROM ("
            "SELECT vec_id, qv, cluster, dist_sq, "
            "row_number() OVER (PARTITION BY vec_id "
            "ORDER BY dist_sq ASC, cluster ASC) AS rn FROM ("
            f"SELECT q.vec_id, q.qv, c.cid AS cluster, "
            f"CAST({dist} AS BIGINT) AS dist_sq FROM q, {cname} c)"
            ") WHERE rn = 1"
        )

    ctes = [
        (
            "q AS (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS qv "
            "FROM embeddings)"
        ),
        (
            "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)"
            " AS cid, qv AS cv FROM (SELECT vec_id, qv FROM q ORDER BY vec_id"
            f" LIMIT {k}))"
            if isinstance(k, int)
            else (
                "c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cid, qv AS cv FROM "
                "(SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS rn"
                f" FROM q) WHERE rn <= ({k}))"
            )
        ),
        f"a0 AS ({assign('c0')})",
    ]
    for i in range(1, KM_ITERS):
        ctes.append(
            f"c{i}e AS (SELECT a{i - 1}.cluster AS cid, t.i AS i, "
            f"CAST(sum(a{i - 1}.qv[CAST(t.i AS INT)]) // count(*) AS BIGINT)"
            f" AS m "
            f"FROM a{i - 1}, unnest(range(1, {KM_DIM} + 1)) AS t(i) "
            f"GROUP BY 1, 2)"
        )
        ctes.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY i) AS cv FROM c{i}e"
            f" GROUP BY cid)"
        )
        ctes.append(f"a{i} AS ({assign(f'c{i}')})")
    return ctes


def _kmeans_oracle() -> str:
    ctes = _kmeans_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, cluster, dist_sq FROM a{KM_ITERS - 1}"
    )


# ---------------------------------------------------------------------------
# Routed (coarse -> fine) k-means assignment — the large-k scale path
# ---------------------------------------------------------------------------

#: The catalog pin of the ROUTED semantics runs small (k=10, g=3) so
#: DuckDB can replay both levels; production sizing is g ~ sqrt(k),
#: auto-selected in `_km_final_assignment` once k >= KM_ROUTE_MIN_K.
KM_ROUTED_G = 3


#: k-center coreset size (greedy farthest-point picks).
KC_K = 8

#: Above this corpus row count the greedy traversal stays the
#: distributed K-round loop (one linear scan + 1-row argmax sync per
#: pick); at or below it the WHOLE quantized point set is fetched to
#: the driver in ONE Arrow pass and the K rounds run in numpy —
#: identical integer arithmetic, identical ties, one job instead of
#: K+2 (VERDICT r19 #5: the rounds are argmax-driver-sync-bound at
#: any SF; K first() round trips each pay a full job cycle).  The
#: fetch is bounded: rows x (dim+1) x 8B ≈ 100 MB at the default —
#: the same bounded-driver-state posture as broadcast_if_small.
KC_ARROW_MAX_ROWS_CONF = "spark.amazonBooksReview.kcenter.arrowMaxRows"
KC_DEFAULT_ARROW_MAX_ROWS = 200_000


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings (Gonzalez 1985
    farthest-point traversal): seed with the lowest vec_id, then K-1
    times pick the point FARTHEST from every selected center — the
    classic diversity sampler for data selection (the 2-approximation
    to the k-center cover), and the decreasing ``dist_sq`` column IS
    the coverage-radius curve a curator reads to choose K.

    Determinism: the same KM_Q-quantized int64 squared-L2 as the
    k-means family — every distance exact, ties to the lowest vec_id,
    so DuckDB replays the full traversal CTE-for-CTE.

    Scale shape (the k-means loop discipline): the loop state is one
    running ``dmin`` fold over the points, grown map-side as a
    ``least(d2(c0), ..., d2(ci))`` expression of dim-sized literals
    over the ONCE-checkpointed point set (r19: the per-round
    checkpoint re-materialized the whole corpus K times just
    to freeze one more ``least`` term — at most K small terms, the
    fold costs arithmetic, not storage).  Each round is one linear
    scan plus a 1-row argmax driver sync; total K scans — never a
    pairwise term, and the corpus is stored once, not K times.

    r20 (VERDICT r19 #5): greedy k-center is inherently sequential —
    each pick is a GLOBAL argmax over state the previous pick
    defines, so the K rounds cannot fuse into one distributed job
    without changing the traversal (per-partition local greedy does
    NOT contain the global picks).  What CAN collapse is the driver
    round-trip count: when the parquet footer says the corpus fits
    ``KC_ARROW_MAX_ROWS_CONF`` (default 200k rows ≈ 100 MB of int64
    qv), the quantized point set — quantized
    by the SAME Spark expression, so HALF_UP rounding is identical —
    is fetched once via Arrow and the K argmax rounds run in exact
    int64 numpy on the driver: ONE job replaces K+2 (checkpoint,
    seed, K-1 TakeOrdereds).  Past the cap the distributed loop above
    is unchanged — the footer read costs no job either way.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pts_plan = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KM_Q).cast("long")
        ).alias("qv"),
    )

    from amazon_books_review_spark.sources.io import table_row_count

    # Fail closed: an unreadable footer (pyarrow's ArrowInvalid is a
    # ValueError) or a zero count — what a nested or hive-partitioned
    # directory sums to — means the size is unknown, so the corpus
    # stays on the distributed loop.
    try:
        n_rows = table_row_count(sf_dir, "embeddings")
    except (OSError, ValueError):
        n_rows = 0
    cap = int(
        spark.conf.get(KC_ARROW_MAX_ROWS_CONF, str(KC_DEFAULT_ARROW_MAX_ROWS))
    )
    if 0 < n_rows <= cap:
        picks = _kcenter_greedy_driver(pts_plan.toArrow())
        return local_frame(spark, picks, "pick_order long, vec_id long, dist_sq long")

    pts = materialize(pts_plan)

    def d2_to(center_qv: list[int]):
        return F.aggregate(
            F.zip_with("qv", F.lit(center_qv), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seed = pts.orderBy("vec_id").first()
    if seed is None:
        raise ValueError("kcenter_coreset: embeddings table is empty")
    picks = [(0, seed["vec_id"], None)]
    dmin = d2_to(seed["qv"])
    for i in range(1, KC_K):
        best = (
            pts.withColumn("dmin", dmin)
            .orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
            .first()
        )
        if best is None:  # fewer points than KC_K: stop with what exists
            break
        picks.append((i, best["vec_id"], best["dmin"]))
        dmin = F.least(dmin, d2_to(best["qv"]))
    return local_frame(spark, picks, "pick_order long, vec_id long, dist_sq long")


def _kcenter_greedy_driver(tbl) -> list[tuple[int, int, int | None]]:
    """The exact Gonzalez traversal over an Arrow table of
    (vec_id, qv int64 list) — the small-corpus arm of
    :func:`kcenter_coreset`.  Same integer arithmetic as the
    distributed loop: squared-L2 in int64, argmax ties to the lowest
    vec_id (rows sorted ascending, ``np.argmax`` takes the first
    max), and a round whose corpus has fewer points than KC_K picks
    re-pick the dmin-0 minimum exactly like the TakeOrdered form."""
    import numpy as np

    pdf = tbl.to_pandas()
    if len(pdf) == 0:
        raise ValueError("kcenter_coreset: embeddings table is empty")
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    qv = np.stack(pdf["qv"].to_numpy()[order]).astype("int64", copy=False)
    diff = qv - qv[0]
    dmin = np.einsum("ij,ij->i", diff, diff)
    picks: list[tuple[int, int, int | None]] = [(0, int(ids[0]), None)]
    for i in range(1, KC_K):
        j = int(np.argmax(dmin))
        picks.append((i, int(ids[j]), int(dmin[j])))
        diff = qv - qv[j]
        np.minimum(dmin, np.einsum("ij,ij->i", diff, diff), out=dmin)
    return picks


def _kcenter_oracle() -> str:
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (a.qv[CAST(i AS INT)] - c.qv[CAST(i AS INT)])"
        " * (a.qv[CAST(i AS INT)] - c.qv[CAST(i AS INT)])))"
    ).format(d=KM_DIM)
    rounds = []
    for i in range(1, KC_K):
        rounds.append(f"""
c{i} AS (
    SELECT vec_id, dmin AS dist_sq FROM d{i}
    ORDER BY dmin DESC, vec_id ASC LIMIT 1
), d{i + 1} AS (
    SELECT a.vec_id, a.qv,
           least(a.dmin, CAST({dist} AS BIGINT)) AS dmin
    FROM d{i} a, (SELECT q.qv FROM q JOIN c{i} USING (vec_id)) c
)""")
    unions = " ".join(
        f"UNION ALL SELECT CAST({i} AS BIGINT), vec_id, dist_sq FROM c{i}"
        for i in range(1, KC_K)
    )
    return f"""
WITH q AS (
    SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS qv
    FROM embeddings
), c0 AS (
    SELECT vec_id, CAST(NULL AS BIGINT) AS dist_sq FROM q
    ORDER BY vec_id LIMIT 1
), d1 AS (
    SELECT a.vec_id, a.qv, CAST({dist} AS BIGINT) AS dmin
    FROM q a, (SELECT q.qv FROM q JOIN c0 USING (vec_id)) c
),{",".join(rounds)}
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS pick_order, vec_id, dist_sq FROM c0
  {unions}
)
"""


#: silhouette probe set: vec_id < N — bounded by contract, like the
#: ANN recall audit's probe sampling (northstar_queries.py).
SIL_PROBES = 32


def kmeans_silhouette_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled silhouette coefficient over the k-means assignment —
    the standard clustering-quality audit (how separated are the
    clusters SemDeDup/IVF route through?).

    For each of ``SIL_PROBES`` probe points: a = mean squared-L2 to
    its OWN cluster's other members, b = min over OTHER clusters of
    the mean squared-L2, s = (b - a) / max(a, b) (singleton clusters
    take the s = 0 convention).  Squared distances keep every
    accumulation in exact int64 — the only floats are one division
    per (probe, cluster) group and the final ratio, so the audit is
    engine-exact (mean-of-sqrt would sum doubles in engine-dependent
    order).

    Scale shape: the probe set broadcasts against the corpus (the
    same bounded probe×corpus discipline as the ANN recall audit);
    distances are map-side integer arithmetic; the only shuffle is to
    (probe, cluster) grain — k rows per probe.  At 100 TB you raise
    SIL_PROBES, never the shuffle shape.
    """
    pts = _km_final_assignment(spark, sf_dir).select("vec_id", "qv", "cluster")
    probes = pts.filter(F.col("vec_id") < SIL_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("qv").alias("p_qv"),
        F.col("cluster").alias("p_cluster"),
    )
    d2 = F.aggregate(
        F.zip_with("qv", "p_qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per_cluster = (
        pts.join(F.broadcast(probes), F.col("vec_id") != F.col("pid"))
        .select("pid", "p_cluster", "cluster", d2.alias("d2"))
        .groupBy("pid", "p_cluster", "cluster")
        .agg(F.sum("d2").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    mean_d2 = F.col("s") / F.col("n").cast("double")
    ab = per_cluster.groupBy("pid", "p_cluster").agg(
        F.max(F.when(F.col("cluster") == F.col("p_cluster"), mean_d2)).alias("a"),
        F.min(F.when(F.col("cluster") != F.col("p_cluster"), mean_d2)).alias("b"),
    )
    sil = F.when(F.col("a").isNull(), F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return ab.select(
        F.col("pid").alias("vec_id"),
        F.col("p_cluster").alias("cluster"),
        F.round("a", 6).alias("a_mean_d2"),
        F.round("b", 6).alias("b_mean_d2"),
        F.round(sil, 6).alias("silhouette"),
    )


def _silhouette_oracle() -> str:
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (p.qv[CAST(i AS INT)] - o.qv[CAST(i AS INT)])"
        " * (p.qv[CAST(i AS INT)] - o.qv[CAST(i AS INT)])))"
    ).format(d=KM_DIM)
    final = f"a{KM_ITERS - 1}"
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f""",
pr AS (SELECT * FROM {final} WHERE vec_id < {SIL_PROBES}),
pd AS (
    SELECT p.vec_id AS pid, p.cluster AS p_cluster, o.cluster AS o_cluster,
           {dist} AS d2
    FROM pr p JOIN {final} o ON o.vec_id <> p.vec_id
), per_cluster AS (
    SELECT pid, p_cluster, o_cluster,
           CAST(sum(d2) AS BIGINT) AS s, count(*) AS n
    FROM pd GROUP BY pid, p_cluster, o_cluster
), ab AS (
    SELECT pid, p_cluster,
           max(CASE WHEN o_cluster = p_cluster
                    THEN s / CAST(n AS DOUBLE) END) AS a,
           min(CASE WHEN o_cluster <> p_cluster
                    THEN s / CAST(n AS DOUBLE) END) AS b
    FROM per_cluster GROUP BY pid, p_cluster
)
SELECT pid AS vec_id, p_cluster AS cluster,
       round(a, 6) AS a_mean_d2, round(b, 6) AS b_mean_d2,
       round(CASE WHEN a IS NULL THEN 0.0
                  ELSE (b - a) / greatest(a, b) END, 6) AS silhouette
FROM ab
"""
    )


def kmeans_routed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized k-means with the coarse-cell ROUTED assignment forced.

    Same 2 Lloyd iterations and integer arithmetic as
    ``kmeans_quantized_assign``, but every assignment pass goes
    through ``_km_assign_routed`` (point -> nearest of g coarse seeds
    -> nearest fine centroid within that seed's cell).  This is the
    semantics the engine switches to automatically at large k (the
    SemDeDup k~n regime); pinning it at k=10 / g=3 against a DuckDB
    replay guarantees the approximate path is deterministic and
    engine-exact, not just "close".
    """
    return _km_final_assignment(
        spark, sf_dir, k=KM_K, route=True, g=KM_ROUTED_G
    ).select("vec_id", "cluster", "dist_sq")


def _kmeans_routed_ctes(k: int = KM_K, g: int = KM_ROUTED_G) -> list[str]:
    """CTE chain replaying the two-level routed assignment exactly.

    Per iteration i, four CTEs: ``cell{i}`` maps each fine centroid to
    a coarse cell (nearest of the first g fine centroids, ties to the
    lowest seed id; seeds anchor their own cells), ``pc{i}`` routes
    each point to its nearest coarse seed, ``a{i}`` picks the nearest
    fine centroid WITHIN the routed cell.  Centroid updates between
    iterations are identical to the brute-force chain.
    """

    def dist(lhs: str, rhs: str) -> str:
        return (
            "list_sum(list_transform(range(1, {d} + 1), "
            "i -> ({l}[CAST(i AS INT)] - {r}[CAST(i AS INT)])"
            " * ({l}[CAST(i AS INT)] - {r}[CAST(i AS INT)])))"
        ).format(d=KM_DIM, l=lhs, r=rhs)

    def routed(i: int) -> list[str]:
        cname = f"c{i}"
        return [
            (
                f"cell{i} AS (SELECT cid, cv, "
                f"CASE WHEN cid < {g} THEN cid ELSE gid END AS gid FROM ("
                "SELECT f.cid, f.cv, co.cid AS gid, "
                "row_number() OVER (PARTITION BY f.cid "
                f"ORDER BY {dist('f.cv', 'co.cv')} ASC, co.cid ASC) AS rn "
                f"FROM {cname} f JOIN {cname} co ON co.cid < {g}"
                ") WHERE rn = 1)"
            ),
            (
                f"pc{i} AS (SELECT vec_id, qv, gid FROM ("
                "SELECT q.vec_id, q.qv, co.cid AS gid, "
                "row_number() OVER (PARTITION BY q.vec_id "
                f"ORDER BY {dist('q.qv', 'co.cv')} ASC, co.cid ASC) AS rn "
                f"FROM q JOIN {cname} co ON co.cid < {g}"
                ") WHERE rn = 1)"
            ),
            (
                f"a{i} AS (SELECT vec_id, qv, cluster, dist_sq FROM ("
                "SELECT p.vec_id, p.qv, f.cid AS cluster, "
                f"CAST({dist('p.qv', 'f.cv')} AS BIGINT) AS dist_sq, "
                "row_number() OVER (PARTITION BY p.vec_id "
                f"ORDER BY {dist('p.qv', 'f.cv')} ASC, f.cid ASC) AS rn "
                f"FROM pc{i} p JOIN cell{i} f ON p.gid = f.gid"
                ") WHERE rn = 1)"
            ),
        ]

    ctes = [
        (
            "q AS (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS qv "
            "FROM embeddings)"
        ),
        (
            "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)"
            " AS cid, qv AS cv FROM (SELECT vec_id, qv FROM q ORDER BY vec_id"
            f" LIMIT {k}))"
        ),
    ]
    ctes.extend(routed(0))
    for i in range(1, KM_ITERS):
        ctes.append(
            f"c{i}e AS (SELECT a{i - 1}.cluster AS cid, t.i AS i, "
            f"CAST(sum(a{i - 1}.qv[CAST(t.i AS INT)]) // count(*) AS BIGINT)"
            f" AS m "
            f"FROM a{i - 1}, unnest(range(1, {KM_DIM} + 1)) AS t(i) "
            f"GROUP BY 1, 2)"
        )
        ctes.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY i) AS cv FROM c{i}e"
            f" GROUP BY cid)"
        )
        ctes.extend(routed(i))
    return ctes


def _kmeans_routed_oracle() -> str:
    ctes = _kmeans_routed_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, cluster, dist_sq FROM a{KM_ITERS - 1}"
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside k-means clusters
# ---------------------------------------------------------------------------

#: cosine threshold for "semantically duplicate" — same bar as the
#: exact embedding near-dup operator (functions/similarity.py), here
#: expressed as an exact rational cos^2 = SEM_TAU_NUM / SEM_TAU_DEN
#: (0.45^2 = 0.2025) so the decision is integer arithmetic.
SEM_TAU_NUM = 2025
SEM_TAU_DEN = 10000

#: SemDeDup's k is larger than the k-means demo's: the pairwise stage
#: is quadratic per cluster, so k must grow with the corpus to keep
#: per-cluster cost flat (k ~ n / target_cluster_size).  25 at the
#: test SFs keeps clusters ~100-200 vectors (2.5x fewer candidate
#: pairs than k=10 at sf0.1) with the same kept-set semantics.
SEM_K = 25


def semdedup_embeddings(
    spark: SparkSession, sf_dir: str, k: int = SEM_K
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with
    k-means, then drop vectors that are near-duplicates of an
    earlier-id vector IN THE SAME CLUSTER.  The clustering bounds the
    pairwise stage — at 100 TB you never join the corpus against
    itself, only each cluster against itself.  Cross-cluster
    near-dups are deliberately not consulted: accepting that recall
    loss is exactly the SemDeDup trade.

    Sizing k (100x curve, PERF.md): total cost = assignment (n x k)
    + within-cluster pairs (n^2 / k), so scaling k linearly with n
    just moves the super-linear term into the assignment matmul —
    the measured 100x point confirms it.  k* ~ sqrt(n) balances the
    two at O(n^1.5); for full linearity route the assignment through
    coarse centroids (hierarchical k-means / the IVF cell-routing in
    ``functions/similarity.py``) instead of brute-force nearest-of-k.

    Keep rule: v survives unless some u < v in its cluster has
    cos(u, v) >= 0.45; dropped rows carry ``dup_of`` = the lowest
    such u.  The cosine test runs on the same KM_Q-quantized integer
    vectors as the clustering, as an exact cross-multiplied
    comparison (dot > 0 and dot^2 * DEN >= NUM * |u|^2 * |v|^2 in
    decimal(38,0)) — no floats, so the kept-set is bit-stable across
    engines and partitionings, which is what lets DuckDB replay it.

    Plan shape: one self-join on cluster id (AQE handles any skewed
    mega-cluster), one groupBy(v) for the min-dropper, one left join
    back — all shuffle keys are ints.
    """
    assigned = _km_final_assignment(spark, sf_dir, k=k)
    # the assignment frame feeds BOTH sides of the self-join plus the
    # final join back — materialized, the whole k-means assignment
    # (and its Arrow stage) runs once, not three times.
    vecs = assigned.select(
        "vec_id",
        "cluster",
        "qv",
        F.aggregate(
            F.transform("qv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nsq"),
    ).transform(materialize)
    u = vecs.select(
        F.col("vec_id").alias("u_id"),
        F.col("cluster").alias("u_cluster"),
        F.col("qv").alias("u_qv"),
        F.col("nsq").alias("u_nsq"),
    )
    v = vecs.select(
        F.col("vec_id").alias("v_id"),
        F.col("cluster").alias("v_cluster"),
        F.col("qv").alias("v_qv"),
        F.col("nsq").alias("v_nsq"),
    )
    dot = F.aggregate(
        F.zip_with("u_qv", "v_qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d38 = "decimal(38,0)"
    pairs = (
        u.join(
            v,
            (F.col("u_cluster") == F.col("v_cluster"))
            & (F.col("u_id") < F.col("v_id")),
        )
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast(d38) * F.col("dot").cast(d38)
                * F.lit(SEM_TAU_DEN).cast(d38)
                >= F.lit(SEM_TAU_NUM).cast(d38)
                * F.col("u_nsq").cast(d38) * F.col("v_nsq").cast(d38)
            )
        )
    )
    droppers = pairs.groupBy(F.col("v_id").alias("vec_id")).agg(
        F.min("u_id").alias("dup_of")
    )
    return (
        vecs.select("vec_id", "cluster")
        .join(droppers, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().cast("int").alias("kept"),
            "dup_of",
        )
    )


def _semdedup_oracle() -> str:
    ctes = _kmeans_ctes(k=SEM_K)
    final = f"a{KM_ITERS - 1}"
    dot = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> u.qv[CAST(i AS INT)] * v.qv[CAST(i AS INT)]))"
    ).format(d=KM_DIM)
    ctes.append(
        "vecs AS (SELECT vec_id, cluster, qv, "
        "list_sum(list_transform(qv, x -> x * x)) AS nsq "
        f"FROM {final})"
    )
    ctes.append(
        "droppers AS (SELECT v.vec_id AS vec_id, "
        "CAST(min(u.vec_id) AS BIGINT) AS dup_of "
        "FROM vecs u JOIN vecs v "
        "ON u.cluster = v.cluster AND u.vec_id < v.vec_id "
        f"WHERE {dot} > 0 AND "
        f"CAST({dot} AS HUGEINT) * CAST({dot} AS HUGEINT) * {SEM_TAU_DEN} "
        f">= CAST({SEM_TAU_NUM} AS HUGEINT) * u.nsq * v.nsq "
        "GROUP BY v.vec_id)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT w.vec_id, w.cluster, "
        "CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER)"
        " AS kept, d.dup_of "
        "FROM vecs w LEFT JOIN droppers d ON w.vec_id = d.vec_id"
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented, exact)
# ---------------------------------------------------------------------------


def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts sharing an order), the standard
    graph-cohesion statistic next to PageRank/components.

    Scale shape — the part that matters at 100 TB: the naive
    id-ordered triangle join fans out by Σ deg² (a hub node's
    neighborhood joins against itself), which a power-law graph turns
    quadratic.  Orienting every edge from its (degree, id)-SMALLER
    endpoint to the larger one ("compact-forward") caps each node's
    out-degree at O(sqrt(E)), bounding the wedge join at O(E^1.5)
    TOTAL regardless of skew — each triangle then appears exactly
    once as a->b, b->c with check-edge a->c.  The orientation is a
    total order, so the count is exact, and the tie-break by id makes
    it deterministic — which is what lets DuckDB replay it.

    Clustering coefficient is emitted in exact parts-per-million
    (3T * 1e6 // wedges, truncating int division both engines) — no
    float division in a hash-compared column.

    Execution (round-7, the un-quarantine): the wedge enumeration is
    the EDGE-ITERATOR form, not a three-way self-join.  The oriented
    out-neighborhoods are materialized as sorted arrays (bounded at
    O(sqrt(E)) elements by the orientation) and each oriented edge
    (a,b) contributes |N+(a) ∩ N+(b)| via ``array_intersect`` — the
    same O(E^1.5) arithmetic bound, but as JVM map-side array work on
    E rows instead of an O(E^1.5)-ROW shuffle.  On the dense sf0.1
    graph (1.2M edges, 148M wedges) that is the difference between a
    ~1.3e9-row SMJ (the r6 quarantine) and ~150M in-core integer
    comparisons; the only shuffles left are the degree agg, the
    adjacency groupBy, and two edge⋈adjacency joins — all O(E) rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # feeds degrees AND orientation
    und = materialize(copurchase_edges(li, directed=False))
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(materialize)
    )  # node-sized; checkpointed so the O(E) degree agg runs ONCE
    # (it used to re-run for the count job, both broadcast builds,
    # and the wedge rollup — four edge passes for one node table)
    # Degree table is NODE-cardinality (20k at sf0.1, |parts| at any
    # SF) — broadcast via broadcast_if_small, same posture as
    # pagerank's rank broadcast: past the configured node budget the
    # hint comes off and these become two O(E)-row shuffle joins.
    # The adjacency joins below stay UN-hinted on purpose: their
    # payload is edge-sized.
    n_nodes_drv = deg.count()  # node-sized count on the checkpoint
    du = broadcast_if_small(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), n_nodes_drv
    )
    dv = broadcast_if_small(
        deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), n_nodes_drv
    )
    keyed = und.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).transform(materialize)  # feeds adjacency AND the edge scan
    adj = oriented.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    tri = (
        oriented.join(adj.select("a", F.col("nbrs").alias("na")), "a")
        .join(
            adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb")),
            "b",
            "left",
        )
        .select(
            F.when(F.col("nb").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("na", "nb")))
            .cast("long")
            .alias("t")
        )
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).alias("wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.expr("(3 * n_triangles * 1000000) div wedges").alias("gcc_ppm"),
    )


TRIANGLE_ORACLE = """
WITH lp AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lp a JOIN lp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
    ) GROUP BY node
), oriented AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
    FROM und e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
), tri AS (
    SELECT count(*) AS n_triangles
    FROM oriented e1
    JOIN oriented e2 ON e1.b = e2.a
    JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM und) AS n_edges,
       tri.n_triangles,
       CAST((3 * tri.n_triangles * 1000000)
            // (SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS gcc_ppm
FROM tri
"""


# ---------------------------------------------------------------------------
# Quantile sketch audit (approx_percentile vs exact, HLL-audit pattern)
# ---------------------------------------------------------------------------

#: approx_percentile accuracy: rank error <= n / QS_ACCURACY
QS_ACCURACY = 1000


def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-quantile scale path, audited: per event_type,
    ``approx_percentile`` (Greenwald-Khanna-style sketch — single
    pass, mergeable partials, the 100 TB quantile operator where the
    exact ``percentile``'s per-group sort is unaffordable) for p50
    and p90, each verified against its rank-error contract by exact
    recount.

    The sketch returns an actual element whose rank must land within
    n/accuracy of the target rank; the verdict recomputes that rank
    exactly (one broadcast join of the tiny per-group result back to
    the fact, one conditional-count pass) with a 2x-contract + 2-row
    slack so definitional off-by-ones can't flap it.  Hash-checked
    columns are the exact percentiles and the verdicts (sketch
    outputs themselves are engine-specific — same discipline as
    ``hll_distinct_audit``).
    """
    events = load_table(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.9)))
    apx = events.groupBy("event_type").agg(
        F.percentile_approx(
            F.col("value"), F.array(F.lit(0.5), F.lit(0.9)), F.lit(QS_ACCURACY)
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
        F.round(pct.getItem(0), 4).alias("p50_exact"),
        F.round(pct.getItem(1), 4).alias("p90_exact"),
    )
    joined = events.join(F.broadcast(apx), "event_type")
    ranks = joined.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("p50_exact").alias("p50_exact"),
        F.first("p90_exact").alias("p90_exact"),
        F.sum((F.col("value") < F.col("ap").getItem(0)).cast("long")).alias("lo50"),
        F.sum((F.col("value") <= F.col("ap").getItem(0)).cast("long")).alias("hi50"),
        F.sum((F.col("value") < F.col("ap").getItem(1)).cast("long")).alias("lo90"),
        F.sum((F.col("value") <= F.col("ap").getItem(1)).cast("long")).alias("hi90"),
    )
    slack = F.col("n") * 2 / QS_ACCURACY + 2

    def ok(p: float, lo: str, hi: str):
        target = F.col("n") * p
        return (
            (F.col(hi) >= target - slack) & (F.col(lo) <= target + slack)
        ).cast("int")

    return ranks.select(
        "event_type",
        "n",
        "p50_exact",
        "p90_exact",
        ok(0.5, "lo50", "hi50").alias("ok_p50"),
        ok(0.9, "lo90", "hi90").alias("ok_p90"),
    )


QS_AUDIT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50_exact,
       round(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS p90_exact,
       CAST(1 AS INTEGER) AS ok_p50,
       CAST(1 AS INTEGER) AS ok_p90
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding dim reduction)
# ---------------------------------------------------------------------------

#: projected dimensionality (64 -> 16): the JL/Achlioptas +-1 map —
#: distances are preserved within (1 +- eps) w.h.p., which is what
#: makes 4x-cheaper ANN preprocessing sound
RP_DIM = 16


def _rp_signs() -> list[list[int]]:
    """Deterministic +-1 projection matrix (RP_DIM x KM_DIM), derived
    from md5 in PYTHON and inlined as literals on BOTH engines — no
    dependence on any engine hash function, so the oracle replays the
    identical matrix."""
    import hashlib

    rows = []
    for j in range(RP_DIM):
        digest = hashlib.md5(f"abr_rp_{j}".encode()).hexdigest()
        # extend to KM_DIM bits by chaining digests
        bits = ""
        block = digest
        while len(bits) < KM_DIM:
            bits += bin(int(block, 16))[2:].zfill(128)
            block = hashlib.md5(block.encode()).hexdigest()
        rows.append([1 if b == "1" else -1 for b in bits[:KM_DIM]])
    return rows


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse Johnson-Lindenstrauss projection of the embedding space
    (Achlioptas +-1 variant): 64-dim vectors quantized to integer
    millis, projected to ``RP_DIM`` sums — the standard cheapening
    step before ANN indexing or clustering at corpus scale (4x fewer
    bytes per vector; pairwise distances preserved within JL bounds).

    All arithmetic is int64 (quantized components times +-1), so the
    projection is bit-identical on any engine/partitioning.  Output
    is long-form (vec_id, j, p) plus the original squared norm per
    row — flat integer columns hash-compare exactly, no float or
    array-encoding ambiguity.

    Plan shape: one broadcast fan-out join against ``RP_DIM`` sign
    rows (the plane-join trick from ``functions/similarity.py``:
    inlining 16x64 literals into fold expressions costs seconds of
    whole-stage codegen; 16 broadcast rows + one small lambda does
    not) — zero shuffles, linear in corpus size.
    """
    signs = _rp_signs()
    signs_df = local_frame(
        spark, list(enumerate(signs)), "j int, s array<bigint>"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KM_Q).cast("long")
        ).alias("qv"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "s", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nsq = F.aggregate(
        F.transform("qv", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return q.join(F.broadcast(signs_df)).select(
        "vec_id", "j", dot.alias("p"), nsq.alias("orig_nsq")
    )


def _random_projection_oracle() -> str:
    signs = _rp_signs()
    sign_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {row}::BIGINT[] AS s"
        for j, row in enumerate(signs)
    )
    return f"""
WITH q AS (
    SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS qv
    FROM embeddings
), signs AS ({sign_rows})
SELECT q.vec_id, signs.j,
       CAST(list_sum(list_transform(range(1, {KM_DIM} + 1),
            i -> q.qv[CAST(i AS INT)] * signs.s[CAST(i AS INT)]))
            AS BIGINT) AS p,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS orig_nsq
FROM q, signs
"""


# ---------------------------------------------------------------------------
# Domain-mixture rebalancing (training-corpus composition control)
# ---------------------------------------------------------------------------

#: target corpus composition in integer percent (sums to 100) — the
#: "data mixture" knob every LLM training run sets per domain/language
MIX_WEIGHTS: dict[str, int] = {"en": 40, "es": 20, "fr": 20, "de": 10, "zh": 10}


def mixture_rebalance_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus to target per-language proportions.

    The largest feasible mixture size is ``M = min_l(n_l * 100 // w_l)``
    (the scarcest domain caps the total); each language keeps its
    ``w_l * M // 100`` lowest-md5-ranked docs.  Everything is integer
    arithmetic + a deterministic hash order, so re-runs — on any
    partitioning, in any engine — keep the SAME documents; that
    reproducibility is what makes a mixture manifest auditable.

    Scale shape: per-language counts are a tiny agg broadcast back; the
    rank is one window per language partition (the shuffle is keyed on
    the domain — salt the window key if one domain dominates; at real
    scale the per-domain hash-threshold variant in
    ``quality_weighted_sample`` trades exact counts for zero windows).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    weights = local_frame(spark, sorted(MIX_WEIGHTS.items()), "lang string, w int")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    feasible = (
        counts.join(F.broadcast(weights), "lang")
        .select(F.expr("n_l * 100 div w").alias("cap"))
        .agg(F.min("cap").alias("m"))
    )
    quota = (
        counts.join(F.broadcast(weights), "lang")
        .crossJoin(F.broadcast(feasible))
        .select("lang", F.expr("w * m div 100").alias("keep_n"))
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
        F.col("doc_id").asc(),
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w_rank).alias("mix_rank")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("mix_rank") <= F.col("keep_n"))
        .select("doc_id", "lang", "mix_rank")
    )


def _mixture_oracle() -> str:
    weight_rows = ", ".join(f"('{k}', {v})" for k, v in sorted(MIX_WEIGHTS.items()))
    return f"""
WITH weights(lang, w) AS (VALUES {weight_rows}),
counts AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
feasible AS (
    SELECT min(n_l * 100 // w) AS m FROM counts JOIN weights USING (lang)
),
quota AS (
    SELECT c.lang, w.w * (SELECT m FROM feasible) // 100 AS keep_n
    FROM counts c JOIN weights w ON c.lang = w.lang
),
ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
               ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)), doc_id ASC)
               AS mix_rank
    FROM documents
)
SELECT r.doc_id, r.lang, r.mix_rank
FROM ranked r JOIN quota q ON r.lang = q.lang
WHERE r.mix_rank <= q.keep_n
"""


# ---------------------------------------------------------------------------
# Time-range rolling window (RANGE frame over event time)
# ---------------------------------------------------------------------------

ROLL_WINDOW_US = 3_600_000_000  # one hour, in epoch microseconds


def rolling_hour_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 1-hour rolling count and value sum over events — the
    RANGE (value-based) window frame, vs the ROWS frames the showcase
    query covers.  Ordering is epoch MICROSECONDS so the frame bounds
    are exact integers in both engines (interval literals delegate to
    engine-calendar arithmetic; integer offsets don't).  The value sum
    runs decimal-exact then rounds, per the stats_moments discipline.
    One shuffle (the user_id window key); RANGE frames evaluate in one
    sorted pass per partition exactly like ROWS frames.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-ROLL_WINDOW_US, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("cnt_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_value_1h"),
    ).withColumn("sum_value_1h", F.round("sum_value_1h", 6))


ROLLING_ORACLE = f"""
SELECT event_id, user_id, ts,
       count(*) OVER w AS cnt_1h,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
           AS sum_value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {ROLL_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


SCALE_OPS_QUERIES = [
    ("heavy_hitters_mg", heavy_hitters_mg, HEAVY_HITTERS_ORACLE,
     "Misra-Gries sketch candidates + exact recount: bounded-memory heavy hitters"),
    ("hll_distinct_audit", hll_distinct_audit, HLL_AUDIT_ORACLE,
     "DataSketches HLL per-group + merged union, audited against exact distinct"),
    ("kmv_intersection_audit", kmv_intersection_audit, _kmv_oracle(),
     "KMV/theta sketch distinct-INTERSECTION estimate (what HLL can't do), engine-exact audit"),
    ("kmv_difference_audit", kmv_difference_audit, _kmv_difference_oracle(),
     "KMV set-DIFFERENCE estimates derived from the intersection sketches, exact audit"),
    ("copurchase_pmi", copurchase_pmi, PMI_ORACLE,
     "pointwise mutual information of co-purchased pairs: basket counts -> lift top-k"),
    ("scd2_user_segments", scd2_user_segments, SCD2_ORACLE,
     "changelog -> SCD2 validity intervals (islands + lead window)"),
    ("pagerank_copurchase", pagerank_copurchase, _pagerank_oracle(),
     "fixed-point integer PageRank, 5 iterations over co-purchase graph"),
    ("kmeans_silhouette_audit", kmeans_silhouette_audit, _silhouette_oracle(),
     "sampled silhouette over the k-means assignment, exact-int64 squared-L2 audit"),
    ("kcenter_coreset", kcenter_coreset, _kcenter_oracle(),
     "greedy farthest-point k-center coreset + coverage-radius curve, exact int64"),
    ("kmeans_quantized_assign", kmeans_quantized_assign, _kmeans_oracle(),
     "deterministic quantized k-means, 2 Lloyd iterations"),
    ("kmeans_routed_assign", kmeans_routed_assign, _kmeans_routed_oracle(),
     "coarse-cell ROUTED k-means assignment (the large-k scale path), exact replay"),
    ("semdedup_embeddings", semdedup_embeddings, _semdedup_oracle(),
     "SemDeDup: within-cluster cosine near-dup drop, exact integer decision"),
    ("embedding_random_projection", embedding_random_projection,
     _random_projection_oracle(),
     "Johnson-Lindenstrauss +-1 projection 64->16, exact int64 arithmetic"),
    ("quantile_sketch_audit", quantile_sketch_audit, QS_AUDIT_ORACLE,
     "approx_percentile rank-error contract audited against exact recount"),
    ("triangle_count_copurchase", triangle_count_copurchase, TRIANGLE_ORACLE,
     "degree-oriented exact triangle count + clustering coefficient (ppm)"),
    ("mixture_rebalance_corpus", mixture_rebalance_corpus, _mixture_oracle(),
     "deterministic domain-mixture resampling to target weights"),
    ("rolling_hour_user_stats", rolling_hour_user_stats, ROLLING_ORACLE,
     "1-hour RANGE-frame rolling count/sum per user over event time"),
]
