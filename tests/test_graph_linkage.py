"""Unit tests for the graph (PageRank) and linkage (SNM) operators."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bigdata_homed_spark.operators.graph import (
    PR_DAMPING_PCT,
    PR_SCALE,
    PR_TELEPORT,
    min_label_components,
    pagerank_ranks,
    symmetrize,
)
from bigdata_homed_spark.operators.rank import global_row_number


def _reference_pagerank(edges: list[tuple[int, int, int]], iterations: int):
    """Pure-python fixed-point recurrence — the independent ground truth."""
    strength: dict[int, int] = {}
    for s, _, w in edges:
        strength[s] = strength.get(s, 0) + w
    pr = {n: PR_SCALE for n in strength}
    for _ in range(iterations):
        incoming: dict[int, int] = {}
        for s, d, w in edges:
            incoming[d] = incoming.get(d, 0) + (pr[s] * w) // strength[s]
        pr = {
            n: PR_TELEPORT + (PR_DAMPING_PCT * inc) // 100
            for n, inc in incoming.items()
        }
    return pr


# 0: uniform PR_SCALE start, no round run; 1: only the round read from
# the edges alone; 3 and 8 (past checkpoint_every=4) chain rank joins on it
@pytest.mark.parametrize("iterations", [0, 1, 3, 8])
def test_pagerank_matches_python_recurrence(spark, iterations):
    # triangle with a pendant: 1-2 heavy, 2-3, 3-1, 3-4 — symmetrized
    und = [(1, 2, 5), (2, 3, 1), (3, 1, 2), (3, 4, 1)]
    sym = und + [(b, a, w) for a, b, w in und]
    edges = spark.createDataFrame(sym, "src long, dst long, w long")
    got = {
        r["node"]: r["pr_rank"]
        for r in pagerank_ranks(edges, iterations=iterations).collect()
    }
    assert got == _reference_pagerank(sym, iterations)
    # mass sanity: every rank positive and below the theoretical max
    assert all(0 < v <= 2 * PR_SCALE for v in got.values())


def test_pagerank_deterministic_across_partitionings(spark):
    und = [(i, i + 1, (i % 3) + 1) for i in range(1, 40)] + [(40, 1, 2)]
    sym = und + [(b, a, w) for a, b, w in und]
    e1 = spark.createDataFrame(sym, "src long, dst long, w long")
    e2 = e1.repartition(7, "dst")  # different physical layout, same graph
    r1 = sorted(map(tuple, pagerank_ranks(e1, 6).collect()))
    r2 = sorted(map(tuple, pagerank_ranks(e2, 6).collect()))
    assert r1 == r2


def test_global_row_number_dense_and_ordered(spark):
    rows = [(i % 7, 1000 - i) for i in range(200)]
    df = spark.createDataFrame(rows, "k int, uid int")
    got = global_row_number(df, ["k", "uid"]).collect()
    assert len(got) == 200
    by_rn = sorted(got, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, 201))
    # rn order == (k, uid) lexicographic order
    assert [(r["k"], r["uid"]) for r in by_rn] == sorted(rows)


def test_global_row_number_uses_multiple_partitions(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "uid int")
    staged = df.repartitionByRange(8, F.col("uid"))
    # precondition: the range partitioner actually spreads the data
    npart = staged.rdd.getNumPartitions()
    assert npart > 1
    got = global_row_number(df, ["uid"], num_partitions=8).collect()
    assert sorted(r["rn"] for r in got) == list(range(1, 501))


def test_snm_candidate_count_is_linear(spark, sf_dir):
    # n·W - W(W+1)/2 candidate pairs BY CONSTRUCTION (the SNM guarantee):
    # every row pairs with its W successors; the last W rows have fewer.
    from bigdata_homed_spark.plans.linkage import (
        _SNM_WINDOW,
        sorted_neighborhood_linkage,
    )
    from bigdata_homed_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "documents").count()
    expected_cands = n * _SNM_WINDOW - _SNM_WINDOW * (_SNM_WINDOW + 1) // 2
    out = sorted_neighborhood_linkage(spark, sf_dir)
    m = out.count()
    assert m <= expected_cands
    rows = out.collect()
    assert all(r["d1"] < r["d2"] for r in rows)
    assert all(r["lev_dist"] >= 0 for r in rows)


def test_psi_nonnegative_and_bounded(spark, sf_dir):
    # PSI is a sum of (pa-pb)·ln(pa/pb) terms, each ≥ 0 — up to the 6dp
    # per-term rounding, whose worst case is 10 bins × 5e-7
    from bigdata_homed_spark.plans.curation import distribution_drift_psi

    rows = distribution_drift_psi(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["psi"] >= -1e-5
        assert r["n_a"] > 0 and r["n_b"] > 0


def test_k_anonymity_audit_consistency(spark, sf_dir):
    from bigdata_homed_spark.plans.curation import k_anonymity_audit
    from bigdata_homed_spark.sources.tables import load_table

    rows = k_anonymity_audit(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["rows_at_risk"] for r in rows) <= n_cust
    for r in rows:
        assert 1 <= r["min_class_size"]
        assert r["n_violating"] <= r["n_classes"]


def test_global_row_number_empty_input(spark):
    df = spark.createDataFrame([], "uid int")
    assert global_row_number(df, ["uid"]).count() == 0


def test_global_row_number_duplicate_keys_stay_dense(spark):
    # equal keys land in one range partition; with a tie-broken ordering
    # the numbering is still dense and deterministic
    rows = [(5, i) for i in range(50)] + [(1, i) for i in range(50)]
    df = spark.createDataFrame(rows, "k int, uid int")
    got = global_row_number(df, ["k", "uid"], num_partitions=4).collect()
    by_rn = sorted(got, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, 101))
    assert [(r["k"], r["uid"]) for r in by_rn] == sorted(rows)


# --------------------------------------------------------------------------
# round-7b additions: basket mining + triangle counting


def test_association_rules_identities(spark, sf_dir):
    """lift/support/confidence agree with their defining count ratios."""
    from bigdata_homed_spark.plans.graph_queries import association_rules_parts
    from bigdata_homed_spark.sources.tables import load_table

    rows = association_rules_parts(spark, sf_dir).collect()
    assert len(rows) > 0
    n_orders = (
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    for r in rows:
        assert r["p1"] < r["p2"]
        assert 0 < r["n_pair"] <= min(r["n_p1"], r["n_p2"])
        assert abs(r["support"] - round(r["n_pair"] / n_orders, 6)) < 1e-9
        assert abs(r["conf_1to2"] - round(r["n_pair"] / r["n_p1"], 6)) < 1e-9
        assert abs(r["conf_2to1"] - round(r["n_pair"] / r["n_p2"], 6)) < 1e-9
        assert (
            abs(r["lift"] - round(r["n_pair"] * n_orders / (r["n_p1"] * r["n_p2"]), 6))
            < 1e-9
        )


def test_association_rules_topk_is_max_support(spark, sf_dir):
    """The K rows returned are the global maximum-count pairs."""
    from bigdata_homed_spark.plans.graph_queries import (
        association_rules_parts,
        copurchase_pair_counts,
    )

    got = association_rules_parts(spark, sf_dir).collect()
    cut = min(r["n_pair"] for r in got)
    above = (
        copurchase_pair_counts(spark, sf_dir)
        .where(F.col("n_pair") > cut)
        .count()
    )
    # every pair strictly above the boundary count must be in the result
    assert above == sum(1 for r in got if r["n_pair"] > cut)


def test_triangle_counts_match_bruteforce(spark, sf_dir):
    """Per-node triangle counts equal a driver-side brute force over the
    (small, thresholded) edge set; the global sum is divisible by 3."""
    from itertools import combinations

    from bigdata_homed_spark.plans.graph_queries import (
        _TC_MIN_W,
        copurchase_pair_counts,
        triangle_count_copurchase,
    )

    edges = {
        (r["p1"], r["p2"])
        for r in copurchase_pair_counts(spark, sf_dir)
        .where(F.col("n_pair") >= _TC_MIN_W)
        .collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri_n: dict[int, int] = {}
    n_tri = 0
    for v, nb in adj.items():
        for a, b in combinations(sorted(nb), 2):
            if (a, b) in edges and v < a:  # count each triangle once at min id
                n_tri += 1
                for x in (v, a, b):
                    tri_n[x] = tri_n.get(x, 0) + 1
    got = triangle_count_copurchase(spark, sf_dir).collect()
    assert sum(tri_n.values()) == 3 * n_tri
    for r in got:
        assert r["n_triangles"] == tri_n.get(r["part_key"], 0), r
        assert r["n_wedges"] == len(adj[r["part_key"]]) * (len(adj[r["part_key"]]) - 1) // 2
        if r["degree"] >= 2:
            assert 0.0 <= r["clustering"] <= 1.0


def test_item_item_neighbors_properties(spark, sf_dir):
    """Neighbor lists: symmetric input (i in j's candidates iff j in i's),
    per-item rank is dense from 1, cosine matches the count ratio, and
    every listed pair really co-occurs >= the sparsification floor."""
    import math

    from bigdata_homed_spark.plans.graph_queries import (
        _CF_MIN_W,
        _CF_TOP_N,
        copurchase_pair_counts,
        item_item_neighbors,
    )
    from bigdata_homed_spark.sources.tables import load_table

    pair_n = {
        (r["p1"], r["p2"]): r["n_pair"]
        for r in copurchase_pair_counts(spark, sf_dir).collect()
    }
    item_n = {
        r["l_partkey"]: r["n"]
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = item_item_neighbors(spark, sf_dir).collect()
    assert got
    by_item: dict[int, list] = {}
    for r in got:
        by_item.setdefault(r["item"], []).append(r)
        key = (min(r["item"], r["neighbor"]), max(r["item"], r["neighbor"]))
        assert pair_n[key] == r["n_pair"] >= _CF_MIN_W
        expect = r["n_pair"] / math.sqrt(item_n[r["item"]] * item_n[r["neighbor"]])
        assert abs(r["cosine"] - round(expect, 6)) < 1e-9
    for item, rows in by_item.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len(rows) <= _CF_TOP_N


def test_label_propagation_matches_python(spark):
    """The distributed LPA equals a sequential reference on a toy graph:
    seeds never change, votes are integer argmax with label tiebreak,
    and an unreachable node stays unlabeled."""
    from bigdata_homed_spark.operators.graph import label_propagation

    # 1-2-3 chain (weights 3, 1), seed at 1 ('a') and 3 ('b');
    # 4-5 pair seeded 'c' at 4; node 6 isolated and unlabeled
    edges_undirected = [(1, 2, 3), (2, 3, 1), (4, 5, 2)]
    rows = [(s, d, w) for s, d, w in edges_undirected] + [
        (d, s, w) for s, d, w in edges_undirected
    ]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    seeds = spark.createDataFrame(
        [(1, "a"), (3, "b"), (4, "c")], "node bigint, label string"
    )
    got = {r["node"]: r for r in label_propagation(edges, seeds, rounds=3).collect()}
    # node 2: votes a=3 (from 1), b=1 (from 3) -> 'a'; node 5 <- 'c'
    assert {n: r["label"] for n, r in got.items()} == {
        1: "a", 3: "b", 4: "c", 2: "a", 5: "c",
    }
    assert got[2]["vote"] == 3 and got[2]["is_seed"] == 0
    assert got[5]["vote"] == 2
    assert got[1]["vote"] is None and got[1]["is_seed"] == 1
    assert 6 not in got


def test_label_propagation_tiebreak_and_round_count(spark):
    """Equal votes resolve by label text; a node two hops from any seed
    needs two rounds (rounds=1 leaves it unlabeled)."""
    from bigdata_homed_spark.operators.graph import label_propagation

    und = [(1, 2, 5), (3, 2, 5), (2, 4, 1)]
    rows = [(s, d, w) for s, d, w in und] + [(d, s, w) for s, d, w in und]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    seeds = spark.createDataFrame(
        [(1, "zzz"), (3, "aaa")], "node bigint, label string"
    )
    one = {r["node"]: r["label"] for r in label_propagation(edges, seeds, 1).collect()}
    assert one[2] == "aaa" and 4 not in one  # tie 5 vs 5 -> label order
    two = {r["node"]: r["label"] for r in label_propagation(edges, seeds, 2).collect()}
    assert two[4] == "aaa"  # reached via node 2's round-1 label


@pytest.mark.parametrize("iterations", [1, 3])
def test_trustrank_matches_python_recurrence(spark, iterations):
    """The distributed seeded recurrence equals a sequential reference on
    a toy graph, including the seed re-injection on a seed with no ranked
    in-neighbors (the full-outer-join case) and trust decay with
    distance."""
    # chain 1->2->3 plus isolated-in-degree seed 9 (9->2 only outgoing)
    rows = [(1, 2, 2), (2, 3, 1), (9, 2, 2)]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    seeds = spark.createDataFrame([(1,), (9,)], "node bigint")
    got = {
        r["node"]: r["pr_rank"]
        for r in pagerank_ranks(edges, iterations, seeds=seeds).collect()
    }

    strength = {1: 2, 2: 1, 9: 2}
    pr = {1: PR_SCALE, 9: PR_SCALE}
    for _ in range(iterations):
        inc: dict[int, int] = {}
        for s, d, w in rows:
            if s in pr:
                inc[d] = inc.get(d, 0) + (pr[s] * w) // strength[s]
        nxt = {}
        for n in {1, 9} | set(inc):
            v = (PR_TELEPORT if n in (1, 9) else 0) + (
                PR_DAMPING_PCT * inc.get(n, 0)
            ) // 100
            if v > 0:
                nxt[n] = v
        pr = nxt
    assert got == pr
    # trust decays along the chain (2 feeds 3 through a damped division),
    # and every seed keeps at least its teleport floor.  Note 2 > 1 is
    # CORRECT TrustRank behavior: node 2 receives from both seeds, while
    # seed 1 has no in-links and holds only its teleport mass.
    if iterations > 1:
        assert got[2] > got[3] > 0
    else:
        assert 3 not in got  # two hops from every seed: no trust after 1 round
    assert got[1] >= PR_TELEPORT and got[9] >= PR_TELEPORT


def _union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> least node id of its connected component, sequentially."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _graph_cases() -> dict[str, list[tuple[int, int]]]:
    rng = random.Random(7)
    cases = {
        # diameter 39: needs 39 label rounds, past any 32-round cap
        "path40": [(i, i + 1) for i in range(39)],
        # hub with the largest id: every leaf's label arrives in one round
        "star": [(100, i) for i in range(1, 30)],
        "two_chains": [(i, i + 1) for i in range(10, 19)]
        + [(i + 1, i) for i in range(50, 63)],
    }
    for seed in range(3):
        nodes = rng.sample(range(1, 1000), 60)
        cases[f"random{seed}"] = [
            tuple(rng.sample(nodes, 2)) for _ in range(45)
        ]
    return cases


def test_min_label_components_matches_union_find(spark):
    """Min-label propagation runs until no label changes, so every case
    equals a sequential union-find, the 40-node path included (a round
    cap below its diameter returns split, mislabeled components)."""
    for name, pairs in _graph_cases().items():
        e0 = spark.createDataFrame(pairs, "p1 bigint, p2 bigint")
        got = {
            r["node"]: r["label"]
            for r in min_label_components(symmetrize(e0)).collect()
        }
        assert got == _union_find_components(pairs), name
