"""Graph mining round-9 fifth wave: communities + link prediction.

Two operators completing the co-purchase graph family (PageRank,
triangles, reach, PMI live in ``scale_ops_queries`` /
``sqlsurface_queries``):

* ``label_propagation_communities`` — synchronous label propagation
  (Raghavan et al. 2007) with a deterministic most-frequent-then-
  min-label update, fixed iteration count.  Community detection is
  the standard precursor to per-community corpus stats and
  stratified sampling over a near-dup graph.
* ``adamic_adar_linkpred`` — common-neighbor link prediction with
  the Adamic-Adar weight ``1/ln(deg(v))``, hub-capped: common
  neighbors above a degree cap are excluded BEFORE the wedge
  self-join, which is what bounds the otherwise-quadratic fan-out
  on a power-law graph (the per-hub pair count is C(deg,2); one
  uncapped celebrity node at 100 TB emits 10^12 wedges).

Both follow the package's fixed-point discipline: label propagation
is pure integer (labels ARE node ids); Adamic-Adar holds its weights
as Python-precomputed integer units shared verbatim with the oracle,
so no engine ever evaluates ``ln`` at comparison-relevant precision.

Reference scope note: the reference (three notebooks over the Books
rating CSVs) has no graph surface at all — these extend the engine
for the co-purchase analytics its dataset implies, per the round
charter (SURVEY.md §2 "beyond-reference scale operators").
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from amazon_books_review_spark.operators.joins import broadcast_if_small
from amazon_books_review_spark.operators.metrics import with_observation
from amazon_books_review_spark.operators.windows import global_top_k
from amazon_books_review_spark.plans.scale_ops_queries import copurchase_edges
from amazon_books_review_spark.session import (
    fetch_if_small,
    local_frame,
    materialize,
    size_metrics,
)
from amazon_books_review_spark.sources.io import load_table

#: synchronous update rounds.  3 is where sf0.01/sf0.1 label churn
#: drops under 2% of nodes; more rounds cost one join+agg pair each
#: and the oracle unrolls linearly with this constant.
LP_ITERS = 3

#: common neighbors with undirected degree above this cap are
#: excluded from Adamic-Adar scoring (and from n_common).  A hub's
#: wedge output is C(deg, 2); the cap bounds it at C(64, 2) = 2016
#: pairs per node.  Hubs are also the least informative common
#: neighbors (weight 1/ln(deg) -> 0), which is why the literature
#: caps or drops them rather than sampling.
AA_DEG_CAP = 64
AA_TOP = 100
#: Adamic-Adar weight scale: weight(v) = floor(1e9 / ln(deg(v)))
#: integer units, precomputed in PYTHON for every degree 2..cap and
#: shipped to both engines as literals — neither engine's ``ln``
#: participates, so there is no last-ulp floor-flip risk and the
#: int64 sum is order-independent (float summation would not be).
AA_SCALE = 1_000_000_000

#: degree -> integer Adamic-Adar weight, the shared literal table.
AA_WEIGHTS: dict[int, int] = {
    d: int(AA_SCALE / math.log(d)) for d in range(2, AA_DEG_CAP + 1)
}


def propagate_labels(edges: DataFrame, iters: int = LP_ITERS) -> DataFrame:
    """Synchronous label propagation over a DIRECTED edge list
    ``(src, dst)`` (both directions present for an undirected graph).
    Returns ``(node, lbl)`` after ``iters`` rounds.

    Init: every node's label is its own id.  Each round, every node
    adopts the label most frequent among its neighbors, ties broken
    by the SMALLEST label — the classic async-LPA nondeterminism
    (random visit order, random tie-break) is replaced by a
    synchronous sweep with a total tie order, so the result is
    bit-identical across engines and partition layouts.

    Scale shape: per round, one broadcast join of the node-sized
    label table against the static edge list (checkpointed once,
    lineage truncated like PageRank), then ONE src-keyed exchange
    feeding both the ``groupBy(src, lbl)`` count and the
    ``groupBy(src)`` argmax over (count, -label) structs (r20 —
    see below).  Label state is dimension-sized and broadcast via
    :func:`broadcast_if_small` — past the configured node budget the
    hint comes off and the join degrades to a shuffle on the same
    key (the web-scale path).

    Round 1 skips the label join entirely: the initial label table is
    the identity (lbl = node), so joining it against ``dst`` is just a
    rename of ``dst`` to ``lbl`` — an algebraic identity, not an
    approximation.

    r20 (EXP7, scripts/r20_exp_lp1ex.py): each round's two-level
    aggregate used to pay TWO exchanges — hash(src, lbl) for the
    count, then hash(src) for the argmax.  ``HashPartitioning(src)``
    satisfies the clustered distribution of BOTH groupings (src is a
    subset of {src, lbl}), so one explicit ``repartition("src")``
    before the first aggregate serves the pair: 2 exchanges/round →
    1 (plan-verified — a single Exchange node feeds both
    HashAggregates).  With that in place the r19/r20 question of
    clustering the edge CHECKPOINT dissolves: no aggregation reads
    the checkpoint layout directly anymore, so the pre-checkpoint
    repartition is genuinely dead here (interleaved A/B medians:
    HEAD-with-dst-clustering 3.78, one-exchange + clustering 3.27,
    one-exchange without 2.94; the no-clustering form won every
    pairwise shot).  PageRank keeps ITS pre-checkpoint
    ``repartition("dst")`` — its per-round aggregate reads the
    checkpointed blocks directly, which is where the block-clustering
    compression lives (scale_ops_queries.pagerank_copurchase).

    An edge list that fits the broadcast threshold takes the local arm
    (``session.materialize``): the same rounds in numpy on the driver,
    returned as a ``LocalRelation``.
    """
    return _propagate_labels(edges, iters)[0]


def _propagate_labels(
    edges: DataFrame, iters: int
) -> tuple[DataFrame, dict[str, np.ndarray] | None]:
    """:func:`propagate_labels`, plus the local arm's label columns
    (``None`` on the distributed arm)."""
    edges, obs = with_observation(edges, size_metrics("src", "dst"))
    edges = materialize(edges)
    seen = obs.get
    tbl = fetch_if_small(edges.select("src", "dst"), seen["n"], seen["nulls"])
    if tbl is not None:
        node, lbl = _propagate_labels_local(
            tbl.column("src").to_numpy(), tbl.column("dst").to_numpy(), iters
        )
        schema = StructType([
            StructField("node", edges.schema["src"].dataType),
            StructField("lbl", edges.schema["dst" if iters else "src"].dataType),
        ])
        cols = {"node": node, "lbl": lbl}
        return local_frame(edges.sparkSession, cols, schema), cols
    labels = None  # round 1: identity labels, join elided
    n_nodes = None
    for _ in range(iters):
        if labels is None:
            joined = edges.select("src", F.col("dst").alias("lbl"))
        else:
            joined = edges.join(
                broadcast_if_small(labels, n_nodes),
                edges["dst"] == labels["node"],
            )
        adopted = (
            joined
            .repartition("src")  # ONE exchange serves both aggregates
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("src")
            .agg(
                F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg")))
                .alias("best")
            )
            .select(
                F.col("src").alias("node"),
                (-F.col("best.neg")).alias("lbl"),
            )
        )
        adopted, nodes_obs = with_observation(adopted, {"n": F.count(F.lit(1))})
        labels = materialize(adopted)
        n_nodes = nodes_obs.get["n"]  # node-sized, observed on the checkpoint
    if labels is None:  # iters == 0: identity labels
        labels = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
    return labels, None


def _propagate_labels_local(
    src: np.ndarray, dst: np.ndarray, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`propagate_labels` on the driver, over the fetched edge
    arrays.  Ids are ranked into ``0..n-1`` first, which keeps their
    order, so the (count desc, label asc) tie rule holds on ranks."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: len(src)], idx[len(src):]
    node = np.unique(s)
    lbl = node  # identity labels; round 1 is then lbl = dst
    for i in range(iters):
        if i:  # inner join: edges into unlabeled nodes contribute nothing
            lab = np.full(len(ids), -1)
            lab[node] = lbl
            hit = lab[d] >= 0
            s_r, l_r = s[hit], lab[d[hit]]
        else:
            s_r, l_r = s, d
        # count each (src, lbl) pair, then keep per src the largest
        # count, ties to the smallest label
        key, c = np.unique(s_r * len(ids) + l_r, return_counts=True)
        o = np.lexsort((key, -c, key // len(ids)))
        _, first = np.unique(key[o] // len(ids), return_index=True)
        node, lbl = np.divmod(key[o][first], len(ids))
    return ids[node], ids[lbl]


def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`propagate_labels` over the co-purchase graph, with a
    per-community size rollup.  ``LP_ITERS`` is fixed so the DuckDB
    oracle unrolls to one CTE pair per round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    labels, cols = _propagate_labels(copurchase_edges(li, directed=True), LP_ITERS)
    if cols is not None:
        # the local arm ran: roll the sizes up on the driver as well,
        # so the result is one local table
        _, inv, size = np.unique(cols["lbl"], return_inverse=True, return_counts=True)
        schema = StructType([
            StructField("p_partkey", labels.schema["node"].dataType),
            StructField("community", labels.schema["lbl"].dataType),
            StructField("community_size", LongType()),
        ])
        return local_frame(
            spark,
            {"p_partkey": cols["node"], "community": cols["lbl"],
             "community_size": size[inv]},
            schema,
        )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "lbl").select(
        F.col("node").alias("p_partkey"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def _label_propagation_oracle() -> str:
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        (
            "edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst"
            " FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey"
            " AND a.l_partkey <> b.l_partkey)"
        ),
        "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)",
    ]
    for i in range(1, LP_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT e.src AS node, p.lbl AS lbl, count(*) AS c"
            f" FROM edges e JOIN l{i - 1} p ON p.node = e.dst"
            " GROUP BY e.src, p.lbl)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, lbl FROM c{i}"
            " QUALIFY row_number() OVER (PARTITION BY node"
            " ORDER BY c DESC, lbl ASC) = 1)"
        )
    last = f"l{LP_ITERS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sizes AS (SELECT lbl, count(*) AS community_size FROM {last} GROUP BY lbl)
SELECT l.node AS p_partkey, l.lbl AS community, s.community_size
FROM {last} l JOIN sizes s ON s.lbl = l.lbl
"""
    )


def adamic_adar_scores(adj: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction scores over a DIRECTED edge list
    ``(src, dst)``: non-adjacent pairs ``(u, v)`` with ``u < v``
    scored by shared neighbors, weighted ``1/ln(deg)`` in
    ``AA_SCALE`` integer units.  Returns
    ``(u, v, n_common, score_units)``, un-truncated.

    Plan shape: degree is one count over the directed edge list;
    the weight lookup is a 63-entry literal map (degrees above
    ``AA_DEG_CAP`` fall out of the map and are EXCLUDED before the
    wedge join — the hub-capping that bounds the quadratic).  The
    wedge enumeration is the edge list self-joined on the hub key
    with ``u < v`` dedup; per-pair scores roll up in one int64 sum
    and known-adjacent pairs leave via an anti-join against the
    undirected edge set.  The wedge self-join's build side is the
    whole (hub-annotated) edge list: AQE broadcasts it at test SF,
    but it is NOT broadcastable at 100 TB — there it degrades to a
    shuffled join pair on the hub key, which is why the plan budget
    carries an SMJ allowance alongside the measured broadcast form.

    r19: the edge list is checkpointed ONCE up front — the degree
    aggregate, the cap join, and the known-adjacent anti-join all
    used to re-evaluate the (expensive) upstream edge-build subtree;
    now each reads the materialized edges.  The old
    ``repartition("src")`` before the checkpoint is gone: the
    checkpoint does not preserve partitioning (the scan comes back as
    UnknownPartitioning), so that exchange was pure cost.
    """
    adj = materialize(adj)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(AA_WEIGHTS.items()) for x in kv]
    )
    hubs = deg.select("src", F.element_at(wmap, F.col("deg")).alias("wv")).filter(
        F.col("wv").isNotNull()
    )
    capped = materialize(adj.join(F.broadcast(hubs), "src"))
    a, b = capped.alias("a"), capped.alias("b")
    scored = (
        a.join(b, "src")
        .filter(F.col("a.dst") < F.col("b.dst"))
        .select(
            F.col("a.dst").alias("u"),
            F.col("b.dst").alias("v"),
            F.col("a.wv").alias("wv"),
        )
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("wv").cast("long").alias("score_units"),
        )
    )
    und = adj.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return scored.join(und, ["u", "v"], "left_anti")


def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`adamic_adar_scores` over the co-purchase graph; the
    top-``AA_TOP`` pairs surface through the TakeOrdered path (no
    global sort), then a rank window runs over those rows only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fresh = adamic_adar_scores(copurchase_edges(li, directed=True))
    top = global_top_k(
        fresh,
        [F.col("score_units").desc(), F.col("u").asc(), F.col("v").asc()],
        AA_TOP,
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("score_units").desc(), F.col("u").asc(), F.col("v").asc()
    )
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).select("u", "v", "n_common", "score_units", "rnk")


def _adamic_adar_oracle() -> str:
    values = ", ".join(f"({d}, {w})" for d, w in sorted(AA_WEIGHTS.items()))
    return f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey <> b.l_partkey),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
wv AS (SELECT * FROM (VALUES {values}) AS t(deg, w)),
hubs AS (SELECT d.src, w.w FROM deg d JOIN wv w ON w.deg = d.deg),
wedge AS (SELECT a.dst AS u, b.dst AS v, h.w
          FROM edges a
          JOIN edges b ON a.src = b.src AND a.dst < b.dst
          JOIN hubs h ON h.src = a.src),
scored AS (SELECT u, v, count(*) AS n_common,
                  CAST(sum(w) AS BIGINT) AS score_units
           FROM wedge GROUP BY u, v),
fresh AS (SELECT s.* FROM scored s
          ANTI JOIN (SELECT src AS u, dst AS v FROM edges WHERE src < dst) e
          ON e.u = s.u AND e.v = s.v)
SELECT u, v, n_common, score_units,
       row_number() OVER (ORDER BY score_units DESC, u ASC, v ASC) AS rnk
FROM fresh
QUALIFY rnk <= {AA_TOP}
"""


# --- Bipartite k-core ---------------------------------------------------------

#: minimum degree a node (order OR part) needs to survive a peel round.
KCORE_K = 5
#: synchronous peel rounds.  The order-part graph converges in 1-2
#: rounds at test SFs (tests assert a further round is a no-op); deep
#: cascades exist on adversarial graphs — production raises this or
#: loops to fixpoint with a count-based stop.
KCORE_ITERS = 3


def kcore_peel(edges: DataFrame, k: int = KCORE_K, iters: int = KCORE_ITERS) -> DataFrame:
    """Synchronous k-core peeling over a BIPARTITE edge list
    ``(o, p)``: each round drops every node (either side) with degree
    < k, then removes its edges; the k-core is the fixed point
    (Matula & Beck 1983; the distributed form is Montresor et al.'s
    synchronous variant).  Returns the surviving edges after
    ``iters`` rounds.

    Scale shape: per round, one degree aggregate per side (map-side
    partials) and two semi-joins of the edge list against the
    node-sized keep sets — O(E)-row shuffles only, never a pairwise
    term; lineage is truncated per round like PageRank.  The keep
    sets are dimension-sized and AQE broadcasts them at test SF;
    at web scale they degrade to shuffle semi-joins on the same keys.
    """
    cur = materialize(edges)
    prev_count = cur.count()
    for _ in range(iters):
        ko = cur.groupBy("o").agg(F.count(F.lit(1)).alias("c")).filter(
            F.col("c") >= k
        ).select("o")
        kp = cur.groupBy("p").agg(F.count(F.lit(1)).alias("c")).filter(
            F.col("c") >= k
        ).select("p")
        cur = (
            cur.join(ko, "o", "left_semi")
            .join(kp, "p", "left_semi")
            .transform(materialize)
        )
        # r19 exact early-stop: peeling only ever REMOVES edges, so an
        # unchanged count is a fixpoint and every remaining round is a
        # provable no-op (the tests already assert a further round is a
        # no-op at convergence) — the result is identical, the
        # trailing agg+semi-join+materialize rounds are skipped.
        new_count = cur.count()
        if new_count == prev_count:
            break
        prev_count = new_count
    return cur


def kcore_order_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`kcore_peel` on the order-part bipartite graph (distinct
    lineitem pairs): the dense transactional core — orders with >= k
    distinct parts whose parts each appear in >= k surviving orders.
    Output: one row per surviving node, tagged by side, with its
    in-core degree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    core = kcore_peel(edges)
    orders = core.groupBy("o").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.lit("order").alias("node_type"),
        F.col("o").alias("node_id"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )
    parts = core.groupBy("p").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.lit("part").alias("node_type"),
        F.col("p").alias("node_id"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )
    return orders.unionByName(parts)


def _kcore_oracle() -> str:
    ctes = ["e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)"]
    for i in range(1, KCORE_ITERS + 1):
        prev = f"e{i - 1}"
        ctes.append(
            f"ko{i} AS (SELECT o FROM {prev} GROUP BY o"
            f" HAVING count(*) >= {KCORE_K})"
        )
        ctes.append(
            f"kp{i} AS (SELECT p FROM {prev} GROUP BY p"
            f" HAVING count(*) >= {KCORE_K})"
        )
        ctes.append(
            f"e{i} AS (SELECT e.o, e.p FROM {prev} e"
            f" SEMI JOIN ko{i} USING (o) SEMI JOIN kp{i} USING (p))"
        )
    last = f"e{KCORE_ITERS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT 'order' AS node_type, o AS node_id,
       CAST(count(*) AS BIGINT) AS core_degree
FROM {last} GROUP BY o
UNION ALL
SELECT 'part' AS node_type, p AS node_id,
       CAST(count(*) AS BIGINT) AS core_degree
FROM {last} GROUP BY p
"""
    )


GRAPH_QUERIES = [
    ("label_propagation_communities", label_propagation_communities,
     _label_propagation_oracle(),
     "synchronous min-tie-break label propagation, fixed rounds, pure integer"),
    ("adamic_adar_linkpred", adamic_adar_linkpred, _adamic_adar_oracle(),
     "hub-capped Adamic-Adar common-neighbor link prediction, integer weights"),
    ("kcore_order_part", kcore_order_part, _kcore_oracle(),
     "bipartite k-core peel over order-part edges: per-round degree agg + semi-joins"),
]
