"""Graph analytics: deterministic weighted PageRank over a co-occurrence
graph.

Absent in the reference (it has no iterative jobs at all — every
`cn.ipanel.homed` main is a single-pass SQL chain), but a first-class
need in a training-data pipeline: CommonCrawl-scale curation ranks
domains/hosts by link authority to weight and filter sources
(Gopher/CCNet both filter on host-level signals), and co-occurrence
ranking drives source mixing.  The iterative kernel lives in
``operators/graph.py``; this module builds the graph and registers the
oracle-checked query.

Graph: parts co-ordered in the same order (lineitem self-joined on
l_orderkey, smaller partkey first) with edge weight = number of orders
containing both.  Per-order fanout is bounded by order size (≤ 7 items
in TPC-H shapes), so |pairs| ≈ C(7,2)·|orders| — linear in the fact, and
the pair aggregation is map-side combinable.  The rank loop is one
equi-join + one keyed shuffle per round (O(E) each), fixed at 8 rounds.

Determinism (why DuckDB can hash-match an ITERATIVE float algorithm):
rank mass is fixed-point bigint (PR_SCALE = 10^12) and all divisions are
integral — see operators/graph.py.  The oracle runs the identical
recurrence as an unrolled CTE chain; both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import (
    label_propagation_oracle_ctes,
    pagerank_oracle_ctes,
    pagerank_ranks,
    symmetrize,
    trustrank_oracle_ctes,
)
from .registry import query

_PR_ITERS = 8
_PR_TOP_K = 20


@query(
    "pagerank_copurchase_parts",
    oracle=f"""
    WITH pr_items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pr_pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM pr_items a JOIN pr_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    pr_e0 AS (
      SELECT p1, p2, cast(count(*) as bigint) AS w FROM pr_pairs GROUP BY p1, p2
    ),
    pr_edges AS MATERIALIZED (
      SELECT p1 AS src, p2 AS dst, w FROM pr_e0
      UNION ALL
      SELECT p2 AS src, p1 AS dst, w FROM pr_e0
    ),
    {pagerank_oracle_ctes("pr_edges", _PR_ITERS)}
    SELECT node AS part_key, pr AS pr_rank
    FROM pr_r{_PR_ITERS}
    ORDER BY pr_rank DESC, part_key
    LIMIT {_PR_TOP_K}
    """,
)
def pagerank_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by weighted PageRank over the co-order graph.

    8 fixed-point power-iteration rounds (operators/graph.py); the top-k
    is a distributed TakeOrderedAndProject over the V-row rank frame,
    fully tie-broken by (rank desc, part_key asc) — ranks are exact
    integers, so the boundary set is deterministic on every engine.
    """
    from ..sources.tables import load_table

    # pair generation WITHOUT a fact self-join: one keyed shuffle packs
    # each order's distinct part set (bounded by order size, so the array
    # is tiny and collect_set partial-aggregates map-side), then the i<j
    # pair expansion is pure whole-stage-codegen array algebra.  The
    # oracle states the same pairs as a relational self-join — two
    # formulations, one answer.
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pp")
        )
        .select("pp.p1", "pp.p2")
    )
    e0 = pairs.groupBy("p1", "p2").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    edges = symmetrize(e0, "w")
    # V here is the PART dimension (dim-sized at every SF: ~2 MB per
    # million parts at 16 B/row), so pagerank_ranks may broadcast its ranks
    ranks = pagerank_ranks(edges, _PR_ITERS)
    return (
        ranks.orderBy(F.desc("pr_rank"), F.asc("node"))
        .limit(_PR_TOP_K)
        .select(F.col("node").alias("part_key"), "pr_rank")
    )

# --------------------------------------------------------------------------
# Shared co-purchase pair builder for the basket/triangle queries below.
# Same shape as the PageRank pair stage: one keyed shuffle packs each
# order's distinct part set (arrays bounded by order size), then the i<j
# expansion is whole-stage-codegen array algebra — the fact is NEVER
# self-joined, so there is exactly one shuffle regardless of basket skew.
def order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, ps): each order's sorted distinct part set — ONE keyed
    shuffle over the fact.  Pair expansion, per-item frequencies and the
    order count are all derivable from this frame, so queries that need
    several of those share one fact pass (guide §2.4) instead of
    re-scanning + re-distinct-ing lineitem per aggregate."""
    from ..sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def basket_pair_counts(baskets: DataFrame) -> DataFrame:
    """(p1, p2, n_pair) with p1 < p2 from the basket frame: the i<j pair
    expansion is pure whole-stage-codegen array algebra."""
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pp")
    ).select("pp.p1", "pp.p2")
    return pairs.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair")
    )


def copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, p2, n_pair) with p1 < p2: co-occurrence counts over orders."""
    return basket_pair_counts(order_baskets(spark, sf_dir))


_AR_TOP_K = 100

# --------------------------------------------------------------------------
# Market-basket association rules — the classic support/confidence/lift
# mining pass (Agrawal et al., "Fast Algorithms for Mining Association
# Rules", VLDB'94), here over order baskets of parts.  Absent in the
# reference (nearest analog: the co-demand heat of
# rank/reports/StarRank.scala), but a standard capability of an analytics
# engine and a data-mixing signal for corpus curation (co-occurrence lift
# ranks source pairings).  Scale shape: the pair stage is the one shuffle
# (array expansion, never a fact self-join); item counts are a dim-sized
# aggregate (broadcast); the top-k cut is TakeOrderedAndProject, fully
# tie-broken; all ratios are single IEEE divisions of exact bigints, so
# the hash matches DuckDB bit-for-bit.
@query(
    "association_rules_parts",
    oracle=f"""
    WITH ar_items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ar_n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ar_items),
    ar_item_n AS (
      SELECT l_partkey, count(*) AS n_item FROM ar_items GROUP BY 1
    ),
    ar_pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
      FROM ar_items a JOIN ar_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    ar_top AS (
      SELECT * FROM ar_pairs ORDER BY n_pair DESC, p1, p2 LIMIT {_AR_TOP_K}
    )
    SELECT t.p1 AS p1, t.p2 AS p2,
           cast(t.n_pair as bigint) AS n_pair,
           cast(i1.n_item as bigint) AS n_p1,
           cast(i2.n_item as bigint) AS n_p2,
           round(cast(t.n_pair as double) / cast(n.n_orders as double), 6)
             AS support,
           round(cast(t.n_pair as double) / cast(i1.n_item as double), 6)
             AS conf_1to2,
           round(cast(t.n_pair as double) / cast(i2.n_item as double), 6)
             AS conf_2to1,
           round(cast(t.n_pair * n.n_orders as double)
                 / cast(i1.n_item * i2.n_item as double), 6) AS lift
    FROM ar_top t
    JOIN ar_item_n i1 ON t.p1 = i1.l_partkey
    JOIN ar_item_n i2 ON t.p2 = i2.l_partkey
    CROSS JOIN ar_n n
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 co-purchased part pairs with support / confidence / lift.

    The expensive side (pair counts over the fact) is cut to K rows
    BEFORE any join; the item-frequency frame is part-dimension-sized at
    every SF, so both enrichment joins broadcast; n_orders is a 1-row
    scalar broadcast (whitelisted crossJoin).
    """
    # ONE fact pass: baskets feed the pair expansion, the per-item
    # frequencies (explode of the part sets — identical to the distinct
    # (order, part) count) and the order count; the before-plan scanned
    # lineitem 8 times for those three aggregates (guide §2.4).  Lazy
    # localCheckpoint: materialized by the first consumer, reused by the
    # rest; block cleanup rides the ContextCleaner like the graph kernels.
    baskets = order_baskets(spark, sf_dir).localCheckpoint(eager=False)
    top = (
        basket_pair_counts(baskets)
        .orderBy(F.desc("n_pair"), "p1", "p2")
        .limit(_AR_TOP_K)
    )
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
        .localCheckpoint(eager=False)  # broadcast twice below (i1, i2)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    i1 = item_n.select(
        F.col("l_partkey").alias("p1"), F.col("n_item").alias("n_p1")
    )
    i2 = item_n.select(
        F.col("l_partkey").alias("p2"), F.col("n_item").alias("n_p2")
    )
    out = (
        top.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n_orders))
    )
    return out.select(
        "p1",
        "p2",
        "n_pair",
        "n_p1",
        "n_p2",
        F.round(
            F.col("n_pair").cast("double") / F.col("n_orders").cast("double"), 6
        ).alias("support"),
        F.round(
            F.col("n_pair").cast("double") / F.col("n_p1").cast("double"), 6
        ).alias("conf_1to2"),
        F.round(
            F.col("n_pair").cast("double") / F.col("n_p2").cast("double"), 6
        ).alias("conf_2to1"),
        F.round(
            (F.col("n_pair") * F.col("n_orders")).cast("double")
            / (F.col("n_p1") * F.col("n_p2")).cast("double"),
            6,
        ).alias("lift"),
    )


_TC_MIN_W = 2
_TC_TOP_K = 100

# --------------------------------------------------------------------------
# Triangle counting / local clustering coefficient over the co-purchase
# graph (edges with weight >= 2 so the graph stays sparse at every SF).
# The distributed-join formulation is the published MapReduce algorithm
# (Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009; Suri &
# Vassilvitskii, WWW'11): orient every edge from its lower-(degree, id)
# endpoint to the higher one, enumerate wedges as self-joined out-edges
# of the common low vertex, and close each wedge with one equi-join back
# to the edge set.  Degree orientation bounds per-vertex out-degree by
# O(sqrt(E)), so the wedge join is O(E^1.5) worst case instead of
# sum(deg^2) — the skew-proof 100 TB shape.  The oracle enumerates the
# same triangles with the simpler id orientation (the triangle SET is
# orientation-invariant), so both engines agree row-for-row.
@query(
    "triangle_count_copurchase",
    oracle=f"""
    WITH tc_items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tc_e AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM tc_items a JOIN tc_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {_TC_MIN_W}
    ),
    tc_deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT p1 AS v FROM tc_e UNION ALL SELECT p2 AS v FROM tc_e
      ) GROUP BY v
    ),
    tc_tri AS (
      SELECT x.p1 AS a, x.p2 AS b, y.p2 AS c
      FROM tc_e x
      JOIN tc_e y ON x.p1 = y.p1 AND x.p2 < y.p2
      JOIN tc_e z ON z.p1 = x.p2 AND z.p2 = y.p2
    ),
    tc_node_tri AS (
      SELECT v, count(*) AS n_tri FROM (
        SELECT a AS v FROM tc_tri
        UNION ALL SELECT b AS v FROM tc_tri
        UNION ALL SELECT c AS v FROM tc_tri
      ) GROUP BY v
    )
    SELECT d.v AS part_key,
           cast(d.deg as bigint) AS degree,
           cast(d.deg * (d.deg - 1) // 2 as bigint) AS n_wedges,
           cast(coalesce(t.n_tri, 0) as bigint) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN
             round(cast(coalesce(t.n_tri, 0) as double)
                   / cast(d.deg * (d.deg - 1) // 2 as double), 6)
           END AS clustering
    FROM tc_deg d LEFT JOIN tc_node_tri t ON d.v = t.v
    ORDER BY n_triangles DESC, n_wedges DESC, part_key
    LIMIT {_TC_TOP_K}
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation + local clustering coefficient.

    Wedge enumeration runs on DEGREE-oriented edges (low (deg, id) ->
    high), the standard skew bound; the closure check is one equi-join on
    the (id-ordered) edge key.  Triangle triples are re-sorted by id
    before the per-node explode so the output is orientation-free.  The
    final cut is TakeOrderedAndProject with a full tiebreak.
    """
    # the sparsified edge list feeds FOUR consumers (degrees, the
    # orientation join, the wedge closure semi-join, the final report
    # join): without a lineage cut the whole fact pair-build subtree is
    # embedded per consumer — the before-plan held 26 parquet scans for
    # one lineitem table.  Lazy localCheckpoints materialize each frame
    # once; the degree explode replaces the e.union(e) spelling that
    # doubled the subtree again (guide §2.4).
    e = (
        copurchase_pair_counts(spark, sf_dir)
        .where(F.col("n_pair") >= _TC_MIN_W)
        .select("p1", "p2")
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.explode(F.array("p1", "p2")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=False)  # consumed by d1, d2 and the report
    )
    # degree orientation: src = lower (deg, id) endpoint
    d1 = deg.select(F.col("v").alias("p1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias("p2"), F.col("deg").alias("deg2"))
    ed = e.join(F.broadcast(d1), "p1").join(F.broadcast(d2), "p2")
    fwd = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
    )
    oe = ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ).localCheckpoint(eager=False)  # both wedge legs read it
    w1 = oe.select(F.col("src").alias("u"), F.col("dst").alias("v1"))
    w2 = oe.select(F.col("src").alias("u"), F.col("dst").alias("v2"))
    # unordered neighbor pair, deduped by id order; closure key is the
    # id-ordered undirected edge (p1 < p2 in e by construction)
    wedges = w1.join(w2, "u").where(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        e,
        (F.col("v1") == F.col("p1")) & (F.col("v2") == F.col("p2")),
        "left_semi",
    )
    node_tri = (
        tri.select(
            F.explode(F.array("u", "v1", "v2")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    out = deg.join(node_tri, "v", "left").select(
        F.col("v").alias("part_key"),
        F.col("deg").alias("degree"),
        F.expr("(deg * (deg - 1)) div 2").cast("bigint").alias("n_wedges"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    return (
        out.withColumn(
            "clustering",
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ),
        )
        .orderBy(F.desc("n_triangles"), F.desc("n_wedges"), "part_key")
        .limit(_TC_TOP_K)
    )


_CF_MIN_W = 2
_CF_TOP_N = 5

# --------------------------------------------------------------------------
# Item-item collaborative filtering (Sarwar et al. WWW'01 / Linden et al.
# "Amazon.com Recommendations", IEEE IC'03): per-item top-N neighbor lists
# by co-occurrence cosine — sim(i,j) = n_ij / sqrt(n_i * n_j) over order
# baskets.  The recommender-serving primitive (neighbor lists are what a
# CF ranker joins at request time), distinct from association_rules'
# global rule mining: the cut is PER ITEM (one row_number window over the
# symmetrized pair frame), so every catalog item keeps its shelf.  Scale:
# pair counts from the shared array-expansion stage (one keyed shuffle,
# no fact self-join); symmetrization doubles a weight>=2-sparsified frame;
# item counts broadcast; the window partitions by item over the pair
# frame.  Cosine is one IEEE division of exact bigints — bit-identical on
# both engines, so ordering and the hash agree.
@query(
    "item_item_neighbors",
    oracle=f"""
    WITH cf_items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cf_n AS (SELECT l_partkey, count(*) AS n_item FROM cf_items GROUP BY 1),
    cf_p0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
      FROM cf_items a JOIN cf_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_W}
    ),
    cf_pairs AS (
      SELECT p1 AS item, p2 AS neighbor, n_pair FROM cf_p0
      UNION ALL
      SELECT p2 AS item, p1 AS neighbor, n_pair FROM cf_p0
    ),
    cf_scored AS (
      SELECT c.item, c.neighbor, c.n_pair,
             cast(c.n_pair as double)
               / sqrt(cast(ni.n_item * nn.n_item as double)) AS cosine
      FROM cf_pairs c
      JOIN cf_n ni ON c.item = ni.l_partkey
      JOIN cf_n nn ON c.neighbor = nn.l_partkey
    ),
    cf_ranked AS (
      SELECT item, neighbor, n_pair, round(cosine, 6) AS cosine,
             row_number() OVER (
               PARTITION BY item ORDER BY cosine DESC, neighbor
             ) AS rank
      FROM cf_scored
    )
    SELECT item, neighbor, cast(n_pair as bigint) AS n_pair, cosine,
           cast(rank as bigint) AS rank
    FROM cf_ranked WHERE rank <= {_CF_TOP_N}
    """,
)
def item_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # one fact pass shared by the pair counts and the item frequencies
    # (the before-plan scanned lineitem 8 times); the symmetrization is an
    # in-row explode instead of p0.union(p0), which embedded the whole
    # pair-build subtree twice (same fix as symmetrize for the rank
    # kernels — guide §2.4)
    baskets = order_baskets(spark, sf_dir).localCheckpoint(eager=False)
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
        .localCheckpoint(eager=False)  # broadcast twice below (ni, nn)
    )
    p0 = basket_pair_counts(baskets).where(F.col("n_pair") >= _CF_MIN_W)
    pairs = p0.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("item"),
                    F.col("p2").alias("neighbor"),
                    F.col("n_pair").alias("n_pair"),
                ),
                F.struct(
                    F.col("p2").alias("item"),
                    F.col("p1").alias("neighbor"),
                    F.col("n_pair").alias("n_pair"),
                ),
            )
        ).alias("e")
    ).select("e.item", "e.neighbor", "e.n_pair")
    ni = item_n.select(F.col("l_partkey").alias("item"), F.col("n_item").alias("n_i"))
    nn = item_n.select(
        F.col("l_partkey").alias("neighbor"), F.col("n_item").alias("n_n")
    )
    scored = (
        pairs.join(F.broadcast(ni), "item")
        .join(F.broadcast(nn), "neighbor")
        .withColumn(
            "cosine_raw",
            F.col("n_pair").cast("double")
            / F.sqrt((F.col("n_i") * F.col("n_n")).cast("double")),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine_raw"), "neighbor")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CF_TOP_N)
        .select(
            "item",
            "neighbor",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round("cosine_raw", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_LP_ROUNDS = 3
_LP_MIN_W = 2

# --------------------------------------------------------------------------
# Weak-supervision label spread over the co-purchase graph: every 5th part
# is a SEED carrying its p_brand as a trusted label; 3 rounds of hard
# label propagation (operators/graph.py) spread brands to unlabeled parts
# by integer edge-weight votes.  The curation use case: a small trusted
# label set (curated domains / human-rated docs) labels the long tail over
# a similarity graph.  Deterministic end-to-end — integer votes, text
# tiebreak, fixed rounds — so the ITERATIVE algorithm hash-matches DuckDB
# (the pagerank proof pattern, second instance).
@query(
    "label_spread_copurchase",
    oracle=f"""
    WITH lp_items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    lp_e0 AS MATERIALIZED (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
      FROM lp_items a JOIN lp_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_W}
    ),
    lp_edges AS MATERIALIZED (
      SELECT p1 AS src, p2 AS dst, w FROM lp_e0
      UNION ALL
      SELECT p2 AS src, p1 AS dst, w FROM lp_e0
    ),
    lp_seeds AS MATERIALIZED (
      SELECT p_partkey AS node, p_brand AS label FROM part
      WHERE p_partkey % 5 = 0
    ),
    {label_propagation_oracle_ctes("lp_edges", "lp_seeds", _LP_ROUNDS)}
    SELECT l.node AS part_key, l.label AS label,
           cast(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END as bigint)
             AS is_seed,
           w.vote AS vote
    FROM lp_l{_LP_ROUNDS} l
    LEFT JOIN lp_seeds s ON l.node = s.node
    LEFT JOIN lp_w{_LP_ROUNDS} w ON l.node = w.node
    """,
)
def label_spread_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation
    from ..sources.tables import load_table

    e0 = copurchase_pair_counts(spark, sf_dir).where(
        F.col("n_pair") >= _LP_MIN_W
    )
    edges = symmetrize(e0, "n_pair")
    seeds = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 5 == 0)
        .select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("label"))
    )
    out = label_propagation(edges, seeds, rounds=_LP_ROUNDS)
    return out.select(
        F.col("node").alias("part_key"), "label", "is_seed", "vote"
    )


_TR_ROUNDS = 4
_TR_MIN_W = 2
_TR_TOP_K = 50

# --------------------------------------------------------------------------
# TrustRank over the co-purchase graph: every 7th part is a TRUSTED seed;
# 4 rounds of seed-teleport PageRank flow trust outward, decaying with
# graph distance — the source-trust weighting a corpus curation stack
# derives from a hand-vetted domain whitelist (Gyongyi VLDB'04), and the
# third ITERATIVE algorithm here that hash-matches DuckDB (after uniform
# PageRank and label propagation).  Top-50 by (trust desc, node), fully
# tie-broken; trust values are exact bigints.
@query(
    "trustrank_copurchase",
    oracle=f"""
    WITH tr_items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tr_e0 AS MATERIALIZED (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
      FROM tr_items a JOIN tr_items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {_TR_MIN_W}
    ),
    tr_edges AS MATERIALIZED (
      SELECT p1 AS src, p2 AS dst, w FROM tr_e0
      UNION ALL
      SELECT p2 AS src, p1 AS dst, w FROM tr_e0
    ),
    tr_seeds AS MATERIALIZED (
      SELECT p_partkey AS node FROM part WHERE p_partkey % 7 = 0
    ),
    {trustrank_oracle_ctes("tr_edges", "tr_seeds", _TR_ROUNDS)}
    SELECT t.node AS part_key, t.pr AS trust,
           cast(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END as bigint)
             AS is_seed
    FROM tr_{_TR_ROUNDS} t
    LEFT JOIN tr_seeds s ON t.node = s.node
    ORDER BY trust DESC, part_key
    LIMIT {_TR_TOP_K}
    """,
)
def trustrank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    e0 = copurchase_pair_counts(spark, sf_dir).where(
        F.col("n_pair") >= _TR_MIN_W
    )
    edges = symmetrize(e0, "n_pair")
    seeds = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 7 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    ranks = pagerank_ranks(edges, _TR_ROUNDS, seeds=seeds)
    seed_flag = seeds.withColumn("is_seed", F.lit(1).cast("bigint"))
    return (
        ranks.join(seed_flag, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("pr_rank").alias("trust"),
            F.coalesce(F.col("is_seed"), F.lit(0)).cast("bigint").alias("is_seed"),
        )
        .orderBy(F.desc("trust"), "part_key")
        .limit(_TR_TOP_K)
    )
