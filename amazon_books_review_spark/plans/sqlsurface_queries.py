"""Modern-SQL-surface queries: recursive CTE graph reachability, a
gap-filled date spine, and parameterized SQL.

These exercise the Spark 4 SQL features an engine-parity user expects
(`WITH RECURSIVE`, named parameter markers) plus the time-series
gap-fill every calendar rollup needs.  Each has an exact DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.session import materialize
from amazon_books_review_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# Gap-filled date spine
# ---------------------------------------------------------------------------


def date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts with missing calendar days filled with 0 —
    the standard date-spine pattern for time-series rollups.

    Scale design: the spine is ``explode(sequence(min, max))`` off a
    1-row bounds aggregate — calendar-sized (thousands of rows per
    decade), never fact-sized — and the daily rollup is a partial-agg
    groupBy on the fact.  The gap-fill join is spine(left, tiny) ⋈
    daily(agg output, day-cardinality): broadcastable on either side,
    zero fact re-shuffles.  The anti-pattern this replaces is
    generating the spine driver-side and parallelizing a Python list.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


DATE_SPINE_ORACLE = """
WITH bounds AS (
    SELECT CAST(min(o_orderdate) AS DATE) AS d0,
           CAST(max(o_orderdate) AS DATE) AS d1
    FROM orders
), spine AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
), daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders,
       COALESCE(d.revenue, 0.0) AS revenue
FROM spine s LEFT JOIN daily d ON s.day = d.day
"""


# ---------------------------------------------------------------------------
# Recursive CTE: bounded-hop reachability on the co-purchase graph
# ---------------------------------------------------------------------------

REACH_MAX_HOPS = 2


def copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts reachable from the smallest partkey within 2 co-purchase
    hops, via Spark 4's ``WITH RECURSIVE`` — min-hop BFS expressed in
    pure SQL.  Edge semantics match ``pagerank_copurchase``
    (`plans/scale_ops_queries.py`): distinct same-order part pairs.

    Scale notes: Spark 4.1 supports only UNION ALL recursion (probed:
    UNION-distinct raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so
    the frontier does NOT dedup between iterations — duplicate paths
    multiply by ~avg-degree per hop, which is why the hop bound is 2
    and why unbounded traversals (connected components) use the
    iterative DataFrame loop with per-round dedup + materialize
    in `functions/dedup.connected_components` instead.  The final
    min-hop GROUP BY collapses the path multiset.
    """
    from amazon_books_review_spark.plans.scale_ops_queries import copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    li.select("l_partkey").createOrReplaceTempView("abr_reach_parts")
    # edge derivation shares pagerank's bounded-fanout set-explode form
    # (one order-key shuffle, no fact self-join) and is checkpointed so
    # each recursion step reads the materialized edge set instead of
    # re-deriving it per hop (temp views inline into the loop body)
    materialize(copurchase_edges(li, directed=True)).createOrReplaceTempView(
        "abr_reach_edges"
    )
    return spark.sql(
        f"""
        WITH seed AS (
            SELECT min(l_partkey) AS p FROM abr_reach_parts
        )
        SELECT partkey, CAST(min(hops) AS INT) AS hops FROM (
            WITH RECURSIVE reach(partkey, hops) AS (
                SELECT p, 0 FROM seed
                UNION ALL
                -- r19: broadcast the FRONTIER, not shuffle the edges —
                -- each recursion step used to SHUFFLE_HASH the whole
                -- checkpointed edge table per hop, while the frontier
                -- is bounded by 1 + deg(seed) rows (single-seed BFS
                -- with a 2-hop cap; co-purchase fan-out is bounded by
                -- design, see copurchase_edges).  Measured identical
                -- rows, 1.79s -> 1.41s at sf0.1.
                SELECT /*+ BROADCAST(r) */ e.dst, r.hops + 1
                FROM reach r JOIN abr_reach_edges e ON e.src = r.partkey
                WHERE r.hops < {REACH_MAX_HOPS}
            )
            SELECT * FROM reach
        )
        GROUP BY partkey
        """
    )


REACH_ORACLE = f"""
WITH RECURSIVE lp AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey <> b.l_partkey
), seed AS (
    SELECT min(l_partkey) AS p FROM lp
), reach(partkey, hops) AS (
    SELECT p, 0 FROM seed
    UNION ALL
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN edges e ON e.src = r.partkey
    WHERE r.hops < {REACH_MAX_HOPS}
)
SELECT partkey, CAST(min(hops) AS INTEGER) AS hops
FROM reach GROUP BY partkey
"""


# ---------------------------------------------------------------------------
# Parameterized SQL (named parameter markers)
# ---------------------------------------------------------------------------

PARAM_CUTOFF = "1996-01-01"
PARAM_STATUS = "O"


def parameterized_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship-style rollup issued through ``spark.sql`` named
    parameter markers (`:cutoff`, `:status`) — the injection-safe
    templating surface; parameters bind as literals so Catalyst still
    constant-folds and pushes the predicate into the scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("abr_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM abr_param_orders
        WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP)
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"cutoff": PARAM_CUTOFF, "status": PARAM_STATUS},
    )


PARAM_ORACLE = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '{PARAM_CUTOFF} 00:00:00'
  AND o_orderstatus = '{PARAM_STATUS}'
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Runtime bloom-filter join reduction (Catalyst runtime filtering)
# ---------------------------------------------------------------------------

#: conf overrides that let the injection demo run at test scale: the
#: application-side threshold defaults to 10 GiB (the feature targets
#: big fact scans), and the build side must not auto-broadcast (a BHJ
#: already prunes the stream side; bloom exists for the SMJ case).
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join under test: lineitem (fact/application side) x a
    selectively filtered orders subset (creation side).  Catalyst's
    InjectRuntimeFilter plants a bloom-filter aggregate on the orders
    subquery and a ``might_contain`` predicate on the lineitem scan,
    so fact rows that cannot join are dropped AT THE SCAN, before the
    shuffle — the semi-join reduction that matters when the fact side
    is 100 TB and the filtered dim is thousands of keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def runtime_bloom_join_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered fact⋈dim join, materialized under the bloom
    confs (injection happens at physical planning, so the run is
    forced inside the override window; the returned frame is the
    checkpointed result).  Result values are the plain join's — the
    bloom filter is sound (no false negatives), which is exactly what
    the shared oracle verifies."""
    old = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        return materialize(_bloom_join(spark, sf_dir))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


BLOOM_JOIN_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


SQLSURFACE_QUERIES = [
    ("date_spine_gapfill", date_spine_gapfill, DATE_SPINE_ORACLE,
     "calendar spine via explode(sequence) + 0-filled daily rollup"),
    ("copurchase_reach", copurchase_reach, REACH_ORACLE,
     "WITH RECURSIVE bounded-hop BFS over co-purchase edges"),
    ("parameterized_order_rollup", parameterized_order_rollup, PARAM_ORACLE,
     "named-parameter spark.sql with pushed, constant-folded binds"),
    ("runtime_bloom_join_reduction", runtime_bloom_join_reduction, BLOOM_JOIN_ORACLE,
     "Catalyst runtime bloom filter: fact scan pre-filtered by the dim subset's keys"),
]


# ---------------------------------------------------------------------------
# Modern aggregate surface (Spark 4 / ANSI aggregates)
# ---------------------------------------------------------------------------


def modern_aggregates_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One grouped pass exercising the modern ANSI aggregate surface:
    ``mode``, ``listagg WITHIN GROUP``, ``count_if``, ``bool_and`` /
    ``bool_or``, ``median``, ``percentile_disc``, and ``max_by`` —
    every one a single-pass partial-aggregable function (no window, no
    self-join), which is why they matter at 100 TB: each replaces a
    window-rank or join-back idiom with plain map-side combine.

    Determinism notes baked into the query: ``max_by``'s ordering key
    is made UNIQUE by appending the orderkey — as a fixed-width
    zero-padded string (12 digits of cents + 18 of orderkey), because
    a ``cents * C + orderkey`` integer key silently collides once
    orderkeys outgrow C (the round-7 review caught exactly that at
    SF >= ~1.7) and an int64 wide enough to avoid it would overflow;
    lexicographic order on the padded key equals numeric order in
    both engines up to the documented 1e12-cents / 1e18-orderkey
    bounds.  Money is integer cents; ``median`` interpolates in double
    and is rounded; ``mode`` rides group sizes large enough that a
    frequency tie is effectively impossible at the tested SFs (a tie
    would be nondeterministic in any engine).
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("ma_orders")
    return spark.sql(
        """
        WITH t AS (
            SELECT o_orderpriority,
                   o_orderstatus,
                   o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   date_format(o_orderdate, 'yyyy-MM-dd') AS o_day
            FROM ma_orders
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               mode(o_orderstatus) AS modal_status,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               count_if(o_orderstatus = 'F') AS n_finished,
               bool_and(cents > 0) AS all_positive,
               bool_or(cents > 50000000) AS any_over_500k,
               round(median(cents), 1) AS median_cents,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                   AS p50_disc_cents,
               max_by(o_day, lpad(CAST(cents AS STRING), 12, '0')
                             || lpad(CAST(o_orderkey AS STRING), 18, '0'))
                   AS priciest_order_day
        FROM t
        GROUP BY o_orderpriority
        """
    )


MODERN_AGG_ORACLE = """
WITH t AS (
    SELECT o_orderpriority, o_orderstatus, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           strftime(o_orderdate, '%Y-%m-%d') AS o_day
    FROM orders
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       mode(o_orderstatus) AS modal_status,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
           AS statuses,
       CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
       bool_and(cents > 0) AS all_positive,
       bool_or(cents > 50000000) AS any_over_500k,
       round(median(cents), 1) AS median_cents,
       CAST(quantile_disc(cents, 0.5) AS DOUBLE) AS p50_disc_cents,
       max_by(o_day, lpad(CAST(cents AS VARCHAR), 12, '0')
                     || lpad(CAST(o_orderkey AS VARCHAR), 18, '0'))
           AS priciest_order_day
FROM t
GROUP BY o_orderpriority
"""


SQLSURFACE_QUERIES.append(
    ("modern_aggregates_showcase", modern_aggregates_showcase, MODERN_AGG_ORACLE,
     "ANSI aggregate surface: mode/listagg/count_if/bool_and/median/percentile_disc/max_by in one partial-aggregable pass")
)


# ---------------------------------------------------------------------------
# SQL UDFs (CREATE FUNCTION ... RETURN) + collation
# ---------------------------------------------------------------------------


def sql_udf_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDFs + collation in one rollup.

    The scale point: a SQL UDF's body INLINES into the Catalyst plan
    (it is a named expression, not a function call), so ``cents()``
    and ``price_band()`` below cost the same as writing the CASE
    inline — whole-stage codegen, partial aggregation, pushdown all
    intact — where a row-Python UDF would add a serialization
    boundary.  The plan test asserts no Python eval node exists.
    ``COLLATE UTF8_LCASE`` gives case-insensitive matching as a type
    property instead of ``lower()`` scans on both sides.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("su_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION su_cents(p DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(p * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION su_price_band(c BIGINT) "
        "RETURNS STRING RETURN CASE WHEN c < 5000000 THEN 'low' "
        "WHEN c < 20000000 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT su_price_band(su_cents(o_totalprice)) AS band,
               count(*) AS n_orders,
               sum(su_cents(o_totalprice)) AS total_cents
        FROM su_orders
        WHERE o_orderpriority COLLATE UTF8_LCASE = '1-urgent'
        GROUP BY 1
        """
    )


SQL_UDF_ORACLE = """
WITH t AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE lower(o_orderpriority) = '1-urgent'
)
SELECT CASE WHEN cents < 5000000 THEN 'low'
            WHEN cents < 20000000 THEN 'mid' ELSE 'high' END AS band,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM t
GROUP BY 1
"""


SQLSURFACE_QUERIES.append(
    ("sql_udf_rollup", sql_udf_rollup, SQL_UDF_ORACLE,
     "SQL UDFs (CREATE FUNCTION ... RETURN) inline into Catalyst + UTF8_LCASE collation filter")
)
