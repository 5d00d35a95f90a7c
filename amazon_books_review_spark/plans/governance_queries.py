"""Data-governance queries: k-anonymity audit, train/val label-drift
(KL contributions), and MAD-based robust outlier flags.

The compliance/monitoring layer of a production data platform — the
reference has none of it; each query here is a pure function of the
tables with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.session import materialize
from amazon_books_review_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

K_ANON = 5
ACCTBAL_BAND = 1000


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group sizes over the quasi-identifier tuple (nation, market
    segment, account-balance band) with an ``at_risk`` flag for groups
    smaller than k=5 — the standard re-identification audit run before
    releasing a dataset.

    Scale design: one shuffle on the quasi-identifier tuple with full
    partial aggregation; the band coarsening (fixed-width buckets, not
    data-dependent quantiles) keeps the bucketing map-side and
    deterministic across releases.
    """
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / ACCTBAL_BAND).cast("long")
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            band.alias("acctbal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "nationkey",
            "mktsegment",
            "acctbal_band",
            F.col("n").cast("long").alias("n"),
            (F.col("n") < K_ANON).cast("int").alias("at_risk"),
        )
    )


K_ANON_ORACLE = f"""
SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
       CAST(floor(c_acctbal / {ACCTBAL_BAND}) AS BIGINT) AS acctbal_band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) < {K_ANON} AS INTEGER) AS at_risk
FROM customer
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Train/val label drift (KL divergence contributions)
# ---------------------------------------------------------------------------

DRIFT_MOD = 10
DRIFT_TRAIN_LT = 8  # vec_id % 10 < 8 -> train, else val


def label_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label probability mass in a deterministic train/val split of
    the embeddings table, with each label's contribution to
    KL(train || val) — the dataset-monitoring check that a split (or a
    new snapshot) didn't shift the label distribution.

    Scale design: one groupBy on ``label`` computing both split counts
    as conditional sums (single pass); the two split totals ride the
    same tiny aggregate and broadcast back — the fact table is read
    once and never re-shuffled.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", (F.col("vec_id") % DRIFT_MOD < DRIFT_TRAIN_LT).alias("is_train")
    )
    per_label = emb.groupBy("label").agg(
        F.sum(F.col("is_train").cast("long")).alias("n_train"),
        F.sum((~F.col("is_train")).cast("long")).alias("n_val"),
    )
    totals = per_label.agg(
        F.sum("n_train").alias("tot_train"), F.sum("n_val").alias("tot_val")
    )
    p_train = F.col("n_train") / F.col("tot_train")
    p_val = F.col("n_val") / F.col("tot_val")
    kl_term = F.when(
        (F.col("n_train") > 0) & (F.col("n_val") > 0),
        p_train * (F.log(p_train) - F.log(p_val)),
    ).otherwise(F.lit(None))
    return (
        per_label.join(F.broadcast(totals))
        .select(
            "label",
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_val").cast("long").alias("n_val"),
            F.round(p_train, 6).alias("p_train"),
            F.round(p_val, 6).alias("p_val"),
            F.round(kl_term, 6).alias("kl_term"),
        )
    )


DRIFT_ORACLE = f"""
WITH per_label AS (
    SELECT label,
           sum(CASE WHEN vec_id % {DRIFT_MOD} < {DRIFT_TRAIN_LT} THEN 1 ELSE 0 END)
               AS n_train,
           sum(CASE WHEN vec_id % {DRIFT_MOD} < {DRIFT_TRAIN_LT} THEN 0 ELSE 1 END)
               AS n_val
    FROM embeddings GROUP BY label
), totals AS (
    SELECT sum(n_train) AS tot_train, sum(n_val) AS tot_val FROM per_label
)
SELECT label,
       CAST(n_train AS BIGINT) AS n_train,
       CAST(n_val AS BIGINT) AS n_val,
       round(n_train / tot_train, 6) AS p_train,
       round(n_val / tot_val, 6) AS p_val,
       round(CASE WHEN n_train > 0 AND n_val > 0
                  THEN (n_train / tot_train)
                       * (ln(n_train / tot_train) - ln(n_val / tot_val))
                  END, 6) AS kl_term
FROM per_label CROSS JOIN totals
"""


# ---------------------------------------------------------------------------
# MAD-based robust outlier flags
# ---------------------------------------------------------------------------

MAD_CUTOFF = 3.0


def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose ``value`` deviates from the per-type median by more
    than 3 robust z-units (|value - median| / MAD) — median/MAD outlier
    detection, immune to the heavy tails that break mean/stddev rules.

    Scale design: two grouped exact-percentile aggregates over the
    ``event_type`` key (median, then MAD of the absolute deviations)
    with the per-type statistics broadcast back to the fact rows —
    event_type cardinality is tiny, so the fact shuffles twice on a
    5-value key and never self-joins.  At 100 TB swap the exact
    ``percentile`` for ``approx_percentile`` (the mergeable-sketch
    trade `value_percentiles` documents).
    """
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    with_med = events.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    z = F.abs(F.col("value") - F.col("med")) / F.col("mad")
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("z_mad", F.round(z, 6))
        .filter(F.col("z_mad") > MAD_CUTOFF)
        .select("event_id", "event_type", "value", "z_mad")
    )


MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
), mad AS (
    SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       round(abs(e.value - m.med) / d.mad, 6) AS z_mad
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
WHERE d.mad > 0 AND round(abs(e.value - m.med) / d.mad, 6) > {MAD_CUTOFF}
"""


# ---------------------------------------------------------------------------
# Key-skew audit
# ---------------------------------------------------------------------------

#: how many of the heaviest keys the top-share covers
SKEW_TOP_N = 10


def _key_skew(df: DataFrame, table: str, key_col: str) -> DataFrame:
    """One audit row for (table, key): row/key counts, the heaviest
    key's share, the top-``SKEW_TOP_N`` share, and the
    Herfindahl-Hirschman concentration index.

    All shares are ratios of EXACT int64 sums (one IEEE division
    each, identically rounded in any engine), so the audit is
    hash-checkable without a tolerance band.  sum(cnt^2) for the HHI
    stays within int64 while sum(cnt) < ~3e9 per key value — beyond
    that, flip the sum to double or decimal(38) (the shares are
    ratios; precision loss is in the 15th digit).
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("k").asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.lit(table).alias("table_name"),
        F.lit(key_col).alias("key_col"),
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_key_rows"),
        F.round(F.max("cnt") / F.sum("cnt"), 9).alias("top1_share"),
        F.round(
            F.sum(F.when(F.col("rnk") <= SKEW_TOP_N, F.col("cnt")).otherwise(F.lit(0)))
            / F.sum("cnt"),
            9,
        ).alias("topn_share"),
        F.round(
            # denominator multiplied as DOUBLE (matching the oracle's
            # CAST(sum(cnt) AS DOUBLE) * sum(cnt)) — int64*int64 would
            # wrap past ~3e9 rows, exactly the scale this audit targets.
            F.sum(F.col("cnt") * F.col("cnt"))
            / (F.sum("cnt").cast("double") * F.sum("cnt")),
            9,
        ).alias("hhi"),
    )


def skew_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key concentration audit over the hot fact keys —
    the pre-flight check that decides whether a key needs salting or
    AQE skew handling BEFORE a 100 TB shuffle is launched on it.

    One row per (table, key) with top-1/top-N shares and HHI.  Scale
    shape: per key one partial-agg shuffle to key grain, then a
    key-grain aggregate; the rank for the top-N share is a window on
    the (already tiny) key-count table.  The union of audit rows is
    bounded by the number of audited keys, not data.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    rows = [
        _key_skew(orders.select("o_custkey"), "orders", "o_custkey"),
        _key_skew(li.select("l_partkey"), "lineitem", "l_partkey"),
        _key_skew(li.select("l_suppkey"), "lineitem", "l_suppkey"),
        _key_skew(events.select("user_id"), "events", "user_id"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _skew_cte(table: str, key: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{key}' AS key_col,
           CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
           max(cnt) AS max_key_rows,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 9) AS top1_share,
           round(sum(CASE WHEN rnk <= {SKEW_TOP_N} THEN cnt ELSE 0 END)
                 / CAST(sum(cnt) AS DOUBLE), 9) AS topn_share,
           round(sum(cnt * cnt) / (CAST(sum(cnt) AS DOUBLE) * sum(cnt)), 9) AS hhi
    FROM (SELECT {key} AS k, count(*) AS cnt,
                 row_number() OVER (ORDER BY count(*) DESC, {key} ASC) AS rnk
          FROM {table} GROUP BY {key})
"""


SKEW_ORACLE = " UNION ALL ".join(
    [
        _skew_cte("orders", "o_custkey"),
        _skew_cte("lineitem", "l_partkey"),
        _skew_cte("lineitem", "l_suppkey"),
        _skew_cte("events", "user_id"),
    ]
)


# ---------------------------------------------------------------------------
# Join-size pre-flight
# ---------------------------------------------------------------------------

#: how many of the heaviest join keys get their own contribution row
PREFLIGHT_TOP = 5


def join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |orders ⋈ lineitem| BEFORE running the join — the
    pre-flight a planner (or an engineer) runs before committing a
    100 TB shuffle: output rows = Σ over matched keys of
    cnt_build(k) × cnt_probe(k), computed on KEY-GRAIN count tables
    (key-cardinality-sized, never fact-sized).

    One summary row (predicted rows, matched keys, the top-1-key and
    top-N-key shares of the OUTPUT — the skew-amplification signal:
    a key modest on both inputs can dominate the product) plus one
    row per top-``PREFLIGHT_TOP`` contributing key.  All counts are
    exact int64; shares are single IEEE divisions — hash-exact.

    Scale shape: two key-grain aggregates (one per side), one
    key-grain join between them, one TakeOrdered top-N.  The fact
    tables are scanned once each for their key columns only; the
    product arithmetic never materializes a single joined row.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    from amazon_books_review_spark.operators.windows import global_top_k

    a = orders.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    b = li.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    # Key-grain and narrow; checkpointed because BOTH the totals agg and
    # the top-N selection consume it (r19 — it used to be re-derived
    # from the fact scans per consumer, behind a single-partition
    # global row_number over every matched key; the top-N now surfaces
    # through TakeOrdered as the docstring always claimed, and the rank
    # window runs over N rows only).
    prod = (
        a.join(b, "k")
        .select("k", (F.col("ca") * F.col("cb")).alias("out_rows"))
        .transform(materialize)
    )
    topn = global_top_k(
        prod, [F.col("out_rows").desc(), F.col("k").asc()], PREFLIGHT_TOP
    )
    w = Window.orderBy(F.col("out_rows").desc(), F.col("k").asc())
    ranked_top = topn.withColumn("rnk", F.row_number().over(w))
    top_sum = ranked_top.agg(
        F.sum("out_rows").alias("_topn_rows"),
    )
    totals = prod.agg(
        F.sum("out_rows").alias("_all_rows"),
        F.count(F.lit(1)).alias("_matched"),
        F.max("out_rows").alias("_max_rows"),
    )
    summary = totals.crossJoin(F.broadcast(top_sum)).select(
        F.lit("ALL").alias("scope"),
        F.lit(None).cast("long").alias("key"),
        F.col("_all_rows").alias("out_rows"),
        F.col("_matched").alias("matched_keys"),
        F.round(F.col("_max_rows") / F.col("_all_rows"), 9).alias("top1_share"),
        F.round(F.col("_topn_rows") / F.col("_all_rows"), 9).alias("topn_share"),
    )
    top = ranked_top.select(
        F.concat(F.lit("top"), F.col("rnk")).alias("scope"),
        F.col("k").alias("key"),
        "out_rows",
        F.lit(None).cast("long").alias("matched_keys"),
        F.lit(None).cast("double").alias("top1_share"),
        F.lit(None).cast("double").alias("topn_share"),
    )
    return summary.unionByName(top)


JOIN_PREFLIGHT_ORACLE = f"""
WITH a AS (
    SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY o_orderkey
), b AS (
    SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY l_orderkey
), prod AS (
    SELECT a.k, ca * cb AS out_rows,
           row_number() OVER (ORDER BY ca * cb DESC, a.k ASC) AS rnk
    FROM a JOIN b USING (k)
)
SELECT 'ALL' AS scope, CAST(NULL AS BIGINT) AS key,
       CAST(sum(out_rows) AS BIGINT) AS out_rows,
       count(*) AS matched_keys,
       round(max(out_rows) / CAST(sum(out_rows) AS DOUBLE), 9) AS top1_share,
       round(sum(CASE WHEN rnk <= {PREFLIGHT_TOP} THEN out_rows ELSE 0 END)
             / CAST(sum(out_rows) AS DOUBLE), 9) AS topn_share
FROM prod
UNION ALL
SELECT 'top' || rnk AS scope, k AS key, out_rows,
       CAST(NULL AS BIGINT) AS matched_keys,
       CAST(NULL AS DOUBLE) AS top1_share,
       CAST(NULL AS DOUBLE) AS topn_share
FROM prod WHERE rnk <= {PREFLIGHT_TOP}
"""


# ---------------------------------------------------------------------------
# PSI — population stability index over a numeric column
# ---------------------------------------------------------------------------

#: fixed-width price band (stable across releases — data-dependent
#: quantile bands would make PSI compare different bins each run).
PSI_BAND = 50_000.0
#: bands at/above this index fold into the top band (open-ended tail).
PSI_TOP_BAND = 8
#: a zero share is clamped to this before the log-ratio — the
#: standard PSI convention (otherwise one empty band is +inf).
PSI_EPS = 1e-4


def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of ``o_totalprice`` between a
    deterministic reference/current split — the production-ML drift
    gate (PSI < 0.1 stable, > 0.25 act) that complements
    ``label_drift_kl``: KL monitors a CATEGORICAL label, PSI bands a
    NUMERIC feature with fixed-width bins so releases compare the
    same bins.  One row per band with both shares and the band's PSI
    contribution ``(q - p) * ln(q / p)`` (zero shares clamped to
    ``PSI_EPS``), plus the running total as a window over the
    band-sized frame.

    Scale design (label_drift_kl's): ONE pass over the fact table —
    both split counts as conditional sums in one groupBy on the band
    key; totals ride a second tiny aggregate broadcast back; the PSI
    sum is a window over <= ``PSI_TOP_BAND`` + 1 rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BAND), F.lit(PSI_TOP_BAND)
        ).cast("long").alias("band"),
        (F.col("o_orderkey") % DRIFT_MOD < DRIFT_TRAIN_LT).alias("is_ref"),
    )
    per_band = orders.groupBy("band").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
    )
    totals = per_band.agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur")
    )
    p = F.greatest(F.col("n_ref") / F.col("tot_ref"), F.lit(PSI_EPS))
    q = F.greatest(F.col("n_cur") / F.col("tot_cur"), F.lit(PSI_EPS))
    contrib = F.round((q - p) * (F.log(q) - F.log(p)), 6)
    from pyspark.sql import Window

    w = Window.partitionBy()
    return (
        per_band.join(F.broadcast(totals))
        .select(
            "band",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round(p, 6).alias("p_ref"),
            F.round(q, 6).alias("p_cur"),
            contrib.alias("psi_contrib"),
        )
        .withColumn("psi_total", F.round(F.sum("psi_contrib").over(w), 6))
    )


PSI_ORACLE = f"""
WITH banded AS (
    SELECT least(CAST(floor(o_totalprice / {PSI_BAND}) AS BIGINT), {PSI_TOP_BAND})
               AS band,
           (o_orderkey % {DRIFT_MOD} < {DRIFT_TRAIN_LT}) AS is_ref
    FROM orders
), per_band AS (
    SELECT band,
           sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
           sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
    FROM banded GROUP BY band
), totals AS (
    SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM per_band
), scored AS (
    SELECT band,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(greatest(n_ref / tot_ref, {PSI_EPS}), 6) AS p_ref,
           round(greatest(n_cur / tot_cur, {PSI_EPS}), 6) AS p_cur,
           round((greatest(n_cur / tot_cur, {PSI_EPS})
                  - greatest(n_ref / tot_ref, {PSI_EPS}))
                 * (ln(greatest(n_cur / tot_cur, {PSI_EPS}))
                    - ln(greatest(n_ref / tot_ref, {PSI_EPS}))), 6)
               AS psi_contrib
    FROM per_band CROSS JOIN totals
)
SELECT band, n_ref, n_cur, p_ref, p_cur, psi_contrib,
       round(sum(psi_contrib) OVER (), 6) AS psi_total
FROM scored
"""


# ---------------------------------------------------------------------------
# l-diversity (the k-anonymity companion audit)
# ---------------------------------------------------------------------------

#: minimum distinct sensitive values per quasi-identifier group.
L_DIVERSE = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity over the customer quasi-identifier groups
    (Machanavajjhala et al. 2007): k-anonymity alone is defeated by a
    homogeneous group (everyone in the group shares the sensitive
    value), so each (nation, balance-band) group is audited for the
    number of DISTINCT sensitive values (market segment here) it
    contains, flagging groups below l=3.

    Scale shape: one shuffle to (QI, sensitive) grain with map-side
    partial aggregation, then a QI-grain rollup of the (already
    tiny) group table — the same two-level count-distinct plan the
    null audit uses; never a count(distinct) over raw rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / ACCTBAL_BAND).cast("long")
    per_value = (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            band.alias("acctbal_band"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_value.groupBy("nationkey", "acctbal_band")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_sensitive_values"),
            F.max("n").cast("long").alias("max_value_rows"),
        )
        .select(
            "nationkey",
            "acctbal_band",
            "n_rows",
            "n_sensitive_values",
            "max_value_rows",
            (F.col("n_sensitive_values") < L_DIVERSE).cast("int").alias("below_l"),
        )
    )


L_DIVERSITY_ORACLE = f"""
WITH per_value AS (
    SELECT c_nationkey AS nationkey,
           CAST(floor(c_acctbal / {ACCTBAL_BAND}) AS BIGINT) AS acctbal_band,
           c_mktsegment AS segment, count(*) AS n
    FROM customer GROUP BY 1, 2, 3
)
SELECT nationkey, acctbal_band,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_sensitive_values,
       CAST(max(n) AS BIGINT) AS max_value_rows,
       CAST(count(*) < {L_DIVERSE} AS INTEGER) AS below_l
FROM per_value GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Pearson correlation matrix (profiling)
# ---------------------------------------------------------------------------

#: numeric lineitem columns profiled pairwise, with their fixed-point
#: scale (all ship with <= 2 decimals in TPC-H-shaped data, so a x100
#: long quantization is EXACT — which is what makes the co-moment
#: sums order-independent integers instead of float reductions).
CORR_COLS: tuple[tuple[str, int], ...] = (
    ("l_quantity", 100),
    ("l_extendedprice", 100),
    ("l_discount", 100),
    ("l_tax", 100),
)


def corr_matrix_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem numeric columns —
    the standard profiling step before feature selection / drift
    baselines.  One row per ordered pair (x < y by position).

    Determinism (the KM_Q discipline): the inputs are quantized x100
    to exact longs, every co-moment (sum x, sum x², sum xy) is summed
    as DECIMAL(38,0) — exact integer arithmetic, so partition order
    cannot perturb a bit — and only the final correlation divides in
    double, rounded at 6.  A float sum of 6e5 price-squared terms
    would carry ~1e-7 relative error, enough to flip the 6th decimal.

    Scale shape: ONE full-scan aggregate computes every co-moment for
    all pairs simultaneously (no per-pair passes); the matrix
    assembly is a constant-size projection of that single row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = {
        c: F.round(F.col(c) * s).cast("long").alias(c) for c, s in CORR_COLS
    }
    quant = li.select(*q.values())
    cols = [c for c, _s in CORR_COLS]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,0)")).alias(f"ss_{c}")
        )
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        aggs.append(
            F.sum((F.col(x) * F.col(y)).cast("decimal(38,0)")).alias(f"sp_{x}_{y}")
        )
    m = quant.agg(*aggs)

    def corr_expr(x: str, y: str):
        n = F.col("n").cast("double")
        num = F.col(f"sp_{x}_{y}").cast("double") * n - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        vx = F.col(f"ss_{x}").cast("double") * n - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{x}").cast("double")
        )
        vy = F.col(f"ss_{y}").cast("double") * n - (
            F.col(f"s_{y}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        return F.round(num / F.sqrt(vx * vy), 6)

    # ONE row carries every co-moment; the matrix is an explode of a
    # constant-size struct array over that row.  (A per-pair union of
    # selects re-plans the aggregate per branch — 12 scans of lineitem
    # for 6 pairs; this form keeps it at exactly one scan.)
    rows = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("n").cast("long").alias("n"),
                corr_expr(x, y).alias("corr"),
            )
            for x, y in pairs
        ]
    )
    return m.select(F.explode(rows).alias("_r")).select("_r.*")


def _corr_oracle() -> str:
    cols = [c for c, _s in CORR_COLS]
    quant = ", ".join(
        f"CAST(round({c} * {s}) AS BIGINT) AS {c}" for c, s in CORR_COLS
    )
    moments = ["count(*) AS n"]
    for c in cols:
        moments.append(f"sum(CAST({c} AS HUGEINT)) AS s_{c}")
        moments.append(f"sum(CAST({c} AS HUGEINT) * {c}) AS ss_{c}")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        moments.append(f"sum(CAST({x} AS HUGEINT) * {y}) AS sp_{x}_{y}")
    rows = "\nUNION ALL\n".join(
        f"""SELECT '{x}' AS col_x, '{y}' AS col_y, CAST(n AS BIGINT) AS n,
       round((CAST(sp_{x}_{y} AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))
             / sqrt((CAST(ss_{x} AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))
                    * (CAST(ss_{y} AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))),
             6) AS corr
FROM m"""
        for x, y in pairs
    )
    return f"""
WITH q AS (SELECT {quant} FROM lineitem),
m AS (SELECT {", ".join(moments)} FROM q)
{rows}
"""


GOVERNANCE_QUERIES = [
    ("l_diversity_audit", l_diversity_audit, L_DIVERSITY_ORACLE,
     "distinct-l-diversity over quasi-identifier groups (k-anonymity companion)"),
    ("psi_price_drift", psi_price_drift, PSI_ORACLE,
     "population stability index over fixed price bands (numeric-feature drift gate)"),
    ("corr_matrix_numeric", corr_matrix_numeric, _corr_oracle(),
     "Pearson correlation matrix via one exact-decimal co-moment scan"),
    ("k_anonymity_audit", k_anonymity_audit, K_ANON_ORACLE,
     "quasi-identifier group sizes with k<5 re-identification flags"),
    ("label_drift_kl", label_drift_kl, DRIFT_ORACLE,
     "train/val label distribution drift as per-label KL contributions"),
    ("mad_outlier_flags", mad_outlier_flags, MAD_ORACLE,
     "median/MAD robust outliers per event type"),
    ("skew_key_audit", skew_key_audit, SKEW_ORACLE,
     "shuffle-key concentration audit (top-1/top-N shares, HHI) over the hot fact keys"),
    ("join_size_preflight", join_size_preflight, JOIN_PREFLIGHT_ORACLE,
     "predict join output size + per-key skew contribution from key-grain counts, pre-shuffle"),
]
