"""Iterative graph operators: deterministic weighted PageRank (uniform or
seeded teleport), label propagation and min-label connected components.

The reference has no graph jobs, but a training-data curation stack does:
CommonCrawl-style corpora rank domains/hosts by link authority to weight
or filter sources, and co-occurrence graphs (items co-ordered, docs
co-cited) feed recommendation and mixing decisions.  This module supplies
the iterative kernel; ``plans/graph_queries.py`` builds the co-occurrence
graph and registers the oracle-checked query.

Why fixed-point integers: PageRank over doubles is order-dependent (float
addition is not associative), so two engines — or two runs with different
partitioning — disagree in the low bits and a value-hash oracle can never
pass.  All rank mass here is ``bigint`` scaled by ``PR_SCALE`` (1.0 ==
10^12) and every division is integral (Spark ``div`` == DuckDB ``//`` on
positive operands), so each iteration is EXACTLY reproducible bit-for-bit
on any engine, any partitioning, any cluster size.  The floor loss per
division (< 1 unit of 10^-12) leaks mass out of the system, which is fine:
ranking order, not stochastic-matrix purity, is the product.

Scale shape (the Pregel-on-DataFrame loop):
- edges carry their source's total strength, attached ONCE before the loop
  by a window over ``src`` and localCheckpointed — the loop never
  recomputes it;
- each iteration is one equi-join (the broadcast V-sized ranks ⋈ edges on
  src) + one shuffle on dst for the contribution sum — O(E) work per
  round, and the edge list is never re-shuffled;
- iteration count is FIXED (caller-chosen), not convergence-tested: a
  deterministic output needs a deterministic round count, and fixed-k
  power iteration is how production systems bound the cost anyway.  A
  fixed count also means the loop needs no per-round action of its own
  (the convergence-checked ``min_label_components`` below needs one per
  round): the k rounds are one lazy plan run by the caller's action.
  Under AQE each round's shuffle and broadcast still runs as its own
  job, so every round costs jobs either way; ranks are localCheckpointed
  every ``checkpoint_every`` rounds only to bound plan depth for large k.
At 100 TB the same loop runs unchanged while V stays dimension-sized;
per-round cost is linear in edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# fixed-point: 1.0 of rank mass == 10^12.  Headroom check: pr <= ~PR_SCALE,
# edge weight fits in 32 bits, so pr * w <= ~2^72?  No: weights here are
# co-occurrence counts (< 2^20 in any sane graph); pr * w < 2^61 stays in
# bigint.  Callers with larger weights must rescale weights first.
PR_SCALE = 1_000_000_000_000
PR_DAMPING_PCT = 85  # 0.85 damping, as an integer percentage
PR_TELEPORT = (100 - PR_DAMPING_PCT) * PR_SCALE // 100


def symmetrize(e0: DataFrame, w_col: str | None = None) -> DataFrame:
    """(p1, p2[, w_col]) -> (src, dst[, w]): both edge directions in ONE
    pass over e0.

    The ``e0.select(...).union(e0.select(...))`` spelling embeds the whole
    pair-build subtree twice in the plan, and physical exchange reuse does
    not always recover that (it never recovers the duplicated map-side
    work before the agg).  An in-row explode of the two directions reads
    e0 once.
    """
    w = [F.col(w_col).alias("w")] if w_col else []
    return e0.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst"), *w),
                F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst"), *w),
            )
        ).alias("e")
    ).select("e.*")


def pagerank_ranks(
    edges: DataFrame,
    iterations: int = 8,
    checkpoint_every: int = 4,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank over a DIRECTED edge list ``(src, dst, w)``.

    Symmetrize before calling for undirected graphs.  Every node must
    appear as BOTH a ``src`` and a ``dst`` (true for symmetrized graphs);
    dangling or source-only nodes are the caller's problem — drop them or
    add self-loops.  This contract is what lets each round be exactly one
    join + one aggregation: no per-round left-join repair of nodes that
    received nothing.

    Returns ``(node, pr_rank)``, the fixed-point bigint rank after
    ``iterations`` rounds of

        out_share(u→v)  = (pr_u * w_uv) div strength_u      (exact bigint)
        pr'_v           = tp_v + (85 * Σ in_shares) div 100

    ``seeds=None`` is uniform PageRank: every node starts at ``PR_SCALE``
    and ``tp_v = PR_TELEPORT`` everywhere.  A ``(node,)`` seed frame makes
    it TrustRank / personalized PageRank (Gyongyi et al., VLDB'04;
    Haveliwala, WWW'02): seeds start at ``PR_SCALE`` and everyone else at
    0, the teleport lands on the seeds only (``tp_v = PR_TELEPORT`` for a
    seed, 0 otherwise), and nodes whose rank is 0 are dropped.  Trust
    flows outward from the seeds and decays with distance, which is how a
    curation stack weights sources by proximity to a hand-vetted
    whitelist.  The teleport is a FULL OUTER join of the seed frame with
    the contribution aggregate: a seed with no ranked in-neighbors must
    still be re-injected.  Seeded mass is bounded by |S| * PR_SCALE /
    0.15, so pr * w stays far inside bigint for any dim-sized seed set.

    The vertex set must be dimension-sized (parts, hosts, channels —
    millions of rows, tens of MB): every round broadcasts the rank vector,
    which turns the round into a map-side hash join over the (big,
    checkpointed, never re-shuffled) edge list plus one V-sized
    aggregation — no per-round sort or edge-shuffle at all.
    """
    # strength rides on each edge row: one shuffle of the edge list on src
    # and the caller's edge subtree runs once, here.  The loop re-reads
    # this checkpoint every round.
    edges_s = edges.select(
        "src",
        "dst",
        "w",
        F.sum("w").over(Window.partitionBy("src")).cast("bigint").alias("s"),
    ).localCheckpoint()
    if seeds is None:
        tp = F.lit(PR_TELEPORT)
        ranks = edges_s.select(F.col("src").alias("node")).distinct()
    else:
        seed_tp = seeds.select(
            "node", F.lit(PR_TELEPORT).cast("bigint").alias("tp")
        ).localCheckpoint()
        tp = F.coalesce(F.col("tp"), F.lit(0))
        ranks = seeds.select("node")
    ranks = ranks.select("node", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for i in range(iterations):
        if i == 0 and seeds is None:
            # every rank is still PR_SCALE: round 1 reads the edges alone
            ranked = edges_s.withColumn("pr", F.lit(PR_SCALE).cast("bigint"))
        else:
            rank_side = F.broadcast(ranks)
            ranked = edges_s.join(rank_side, edges_s["src"] == rank_side["node"])
        incoming = ranked.groupBy(F.col("dst").alias("node")).agg(
            F.sum(F.expr("(pr * w) div s")).cast("bigint").alias("incoming")
        )
        if seeds is not None:
            incoming = seed_tp.join(incoming, "node", "full_outer")
        pr = tp + F.expr(f"({PR_DAMPING_PCT} * coalesce(incoming, 0)) div 100")
        ranks = incoming.select("node", pr.cast("bigint").alias("pr"))
        if seeds is not None:
            ranks = ranks.where(F.col("pr") > 0)
        # bound plan depth for large iteration counts
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("pr").alias("pr_rank"))


def pagerank_oracle_ctes(
    edges_cte: str, iterations: int = 8, prefix: str = "pr_r"
) -> str:
    """DuckDB CTE chain computing the SAME fixed-point iteration.

    ``edges_cte`` must be the name of an already-defined CTE with columns
    (src, dst, w).  Emits ``strength_cte, {prefix}0, ..., {prefix}N``;
    the caller selects from ``{prefix}{iterations}``.  Unrolled rather
    than recursive: DuckDB's recursive CTEs forbid aggregation over the
    recursive term, and an unrolled chain is trivially inspectable.
    """
    parts = [
        # MATERIALIZED: the edge list and strengths are referenced by every
        # unrolled round — without the hint DuckDB may inline (re-evaluate)
        # the whole upstream pair build once per round, which at sf1 spills
        f"pr_strength AS MATERIALIZED (SELECT src, cast(sum(w) as bigint) AS s "
        f"FROM {edges_cte} GROUP BY src)",
        f"{prefix}0 AS (SELECT src AS node, cast({PR_SCALE} as bigint) AS pr "
        f"FROM pr_strength)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"{prefix}{i} AS (\n"
            f"  SELECT e.dst AS node,\n"
            f"         cast({PR_TELEPORT} + ({PR_DAMPING_PCT} *\n"
            f"              cast(sum((r.pr * e.w) // st.s) as bigint)) // 100\n"
            f"              as bigint) AS pr\n"
            f"  FROM {edges_cte} e\n"
            f"  JOIN {prefix}{i - 1} r ON r.node = e.src\n"
            f"  JOIN pr_strength st ON st.src = e.src\n"
            f"  GROUP BY e.dst)"
        )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# Label propagation (semi-supervised hard LPA: Zhu & Ghahramani CMU-CALD-02,
# Raghavan et al. 2007): seeds keep their labels; every round, every
# non-seed node adopts the label with the LARGEST total incident edge
# weight among currently-labeled neighbors (ties broken by label text, so
# the whole iteration is deterministic — votes are INTEGER sums, never
# floats).  The weak-supervision primitive of a training-data pipeline:
# spread a small set of trusted labels (curated domains, human-rated docs)
# over a similarity/co-occurrence graph to label the long tail.
#
# Scale shape: per round one equi-join (the broadcast labels ⋈ edges on
# src) + one (node, label) aggregate + one node-keyed window over the vote
# frame — O(E·deg(labels)) work, same Pregel-on-DataFrame shape as
# pagerank_ranks.  Fixed round count for the same reason as PageRank:
# deterministic output needs a deterministic loop.


def label_propagation(edges: DataFrame, seeds: DataFrame, rounds: int = 3) -> DataFrame:
    """``edges``: (src, dst, w) DIRECTED (pass both directions for an
    undirected graph); ``seeds``: (node, label).  Returns (node, label,
    is_seed, vote) for every node labeled after ``rounds`` rounds — vote
    is the winning integer weight sum (NULL for seeds).

    As in ``pagerank_ranks`` the vertex set must be dimension-sized
    (parts, hosts, channels): the per-round label frame is V-sized, and
    broadcasting it turns every round's edges ⋈ labels into a map-side
    hash join over the (big, never re-shuffled) edge list — no per-round
    O(E) exchange (guide §3.1).  The seed anti-join is V-sized on BOTH
    sides and rides the same broadcast."""
    edges = edges.localCheckpoint(eager=False)
    seeds = seeds.localCheckpoint(eager=False)
    seed_nodes = F.broadcast(seeds.select("node"))
    w = Window.partitionBy("node").orderBy(F.desc("vote"), F.asc("label"))
    labels = seeds
    winners = None
    for _ in range(rounds):
        label_side = F.broadcast(labels)
        votes = (
            edges.join(label_side, edges["src"] == label_side["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").cast("bigint").alias("vote"))
        )
        winners = (
            votes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .join(seed_nodes, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        labels = seeds.unionByName(winners.select("node", "label"))
    out_seeds = seeds.select(
        "node",
        "label",
        F.lit(1).cast("bigint").alias("is_seed"),
        F.lit(None).cast("bigint").alias("vote"),
    )
    if winners is None:
        return out_seeds
    return out_seeds.unionByName(
        winners.select(
            "node", "label", F.lit(0).cast("bigint").alias("is_seed"), "vote"
        )
    )


def label_propagation_oracle_ctes(
    edges_cte: str, seeds_cte: str, rounds: int = 3, prefix: str = "lp_"
) -> str:
    """DuckDB CTE chain for the SAME deterministic recurrence.  ``edges_cte``
    has (src, dst, w); ``seeds_cte`` has (node, label).  Emits
    ``{prefix}l0 .. {prefix}l{rounds}`` plus per-round vote/winner CTEs;
    the caller reads ``{prefix}l{rounds}`` (node, label) and
    ``{prefix}w{rounds}`` for the final-round winning votes."""
    parts = [f"{prefix}l0 AS (SELECT node, label FROM {seeds_cte})"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""{prefix}v{i} AS (
      SELECT e.dst AS node, l.label, cast(sum(e.w) as bigint) AS vote
      FROM {edges_cte} e JOIN {prefix}l{i - 1} l ON e.src = l.node
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""{prefix}w{i} AS (
      SELECT node, label, vote FROM (
        SELECT node, label, vote,
               row_number() OVER (PARTITION BY node ORDER BY vote DESC, label) AS rn
        FROM {prefix}v{i}
      ) WHERE rn = 1 AND node NOT IN (SELECT node FROM {seeds_cte})
    )"""
        )
        parts.append(
            f"""{prefix}l{i} AS (
      SELECT node, label FROM {seeds_cte}
      UNION ALL
      SELECT node, label FROM {prefix}w{i}
    )"""
        )
    return ",\n    ".join(parts)


# ---------------------------------------------------------------------------
# Connected components by min-label propagation: every node starts labeled
# with its own id, and each round every node takes the least label among
# itself and its neighbors.  Labels only decrease, so the loop ends, and on
# convergence every node carries the least id of its component.  The number
# of rounds follows the largest component's diameter (a path of n nodes
# takes n rounds), not log n, so the loop runs until a round changes no
# label: a round cap would return wrong components, not approximate ones.
#
# Scale shape: per round one join (edges ⋈ labels on src) and one
# aggregate on node, cut by an eager localCheckpoint.  The checkpoint's own
# job also counts the round's changed labels through an Observation, so the
# convergence test adds no job.


def min_label_components(edges: DataFrame) -> DataFrame:
    """``edges``: (src, dst) SYMMETRIC — every edge in both directions, as
    ``symmetrize`` makes it.  Returns (node, label) for every node with an
    edge, ``label`` the least node id in its connected component."""

    def checkpoint(frame: DataFrame) -> tuple[DataFrame, int]:
        # frame: (node, label, chg); returns (node, label) and the chg count
        obs = Observation()
        frame = (
            frame.observe(obs, F.sum(F.col("chg").cast("bigint")).alias("n"))
            .drop("chg")
            .localCheckpoint()
        )
        return frame, obs.get["n"] or 0

    # eager: the caller's edge subtree runs once, here; every round
    # re-reads the checkpoint
    sym = edges.select("src", "dst").localCheckpoint()
    # every label starts as the node's own id, so round 1 reads the edges
    # alone: each node takes the least of itself and its neighbors
    labels, changed = checkpoint(
        sym.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("nbr_min"))
        .select(
            "node",
            F.least("node", "nbr_min").alias("label"),
            (F.col("nbr_min") < F.col("node")).alias("chg"),
        )
    )
    while changed:
        # the labels (one row per node) are the join's build side in every
        # round: left to AQE's runtime sizes, the side flipped between runs
        # of the same query, re-planning and recompiling the loop
        msgs = (
            sym.join(labels.hint("shuffle_hash"), sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("label").alias("nbr_min"))
        )
        labels, changed = checkpoint(
            labels.join(msgs, labels["node"] == msgs["id2"]).select(
                "node",
                F.least("label", "nbr_min").alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("chg"),
            )
        )
    return labels


# ---------------------------------------------------------------------------
# TrustRank oracle: the seeded recurrence of pagerank_ranks(seeds=...).


def trustrank_oracle_ctes(
    edges_cte: str, seeds_cte: str, iterations: int = 4, prefix: str = "tr_"
) -> str:
    """DuckDB CTE chain for the SAME seeded recurrence.  ``seeds_cte``
    has (node); caller reads ``{prefix}{iterations}`` (node, pr)."""
    parts = [
        f"{prefix}strength AS MATERIALIZED (SELECT src, cast(sum(w) as bigint) AS s "
        f"FROM {edges_cte} GROUP BY src)",
        f"{prefix}0 AS (SELECT node, cast({PR_SCALE} as bigint) AS pr "
        f"FROM {seeds_cte})",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""{prefix}{i} AS (
      SELECT node, pr FROM (
        SELECT coalesce(s.node, c.node) AS node,
               cast(CASE WHEN s.node IS NOT NULL THEN {PR_TELEPORT} ELSE 0 END
                    + ({PR_DAMPING_PCT} * coalesce(c.incoming, 0)) // 100
                    as bigint) AS pr
        FROM {seeds_cte} s
        FULL OUTER JOIN (
          SELECT e.dst AS node,
                 cast(sum((r.pr * e.w) // st.s) as bigint) AS incoming
          FROM {edges_cte} e
          JOIN {prefix}{i - 1} r ON r.node = e.src
          JOIN {prefix}strength st ON st.src = e.src
          GROUP BY e.dst
        ) c ON s.node = c.node
      ) WHERE pr > 0
    )"""
        )
    return ",\n    ".join(parts)
