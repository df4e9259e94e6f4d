"""Generate SCALING.md: measured physical-plan facts for every batch query.

For each registry entry this runs the plan (not the query) and counts the
things that matter at 100 TB: shuffle exchanges, broadcast joins vs
shuffle joins, nested-loop joins, codegen coverage, and scan pushdown.
The output is a table a reviewer can diff across rounds — plan regressions
show up as a changed number, not a vibe.

Usage: python tools/plan_report.py > SCALING.md
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark

# streaming queries execute on build (memory sink); their plans are
# streaming plans — skip in the batch-plan table
STREAMING = {q for q in QUERIES if q.startswith("stream_")}


def analyze(plan: str) -> dict[str, int | str]:
    return {
        "shuffles": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        "codegen": "yes" if "*(" in plan else "no",
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
    }


INTENTIONAL_BNL = {
    # non-equi / cross joins against deliberately tiny broadcast sides:
    "embedding_knn": "10 query vectors broadcast against candidate scan",
    "embedding_knn_ivf": "16 centroids / 10 queries broadcast",
    "embedding_ivf_pq_search": (
        "16 coarse centroids broadcast for the query-probe scoring (the "
        "corpus-side assignment + codes⋈lists layout happen in the "
        "session-cached INDEX BUILD behind the localCheckpoint, so this "
        "table shows the query-time plan); the ADC scan is equi-joined on "
        "(cid, query_id) — no corpus-wide BNL, unlike the flat "
        "embedding_pq_search scan"
    ),
    "bm25_doc_scores": "1-row corpus-stats (N docs, total tokens) broadcast (the BM25 idf/avgdl normalizers)",
    "kmv_audience_overlap": "all 7 BNLs are crossJoins of 1-row scalar frames (the two K-row sketch aggregates, theta, the three exact-count audits, and the intersection count \u2014 every side is <= K=32 rows by construction; the segments reach the sketches via TakeOrderedAndProject, never a cross join)",
    "kmv_anotb_audience": "same machinery as kmv_audience_overlap: crossJoins of 1-row scalar frames (sketch aggregates, theta, the exact A\\B audit) and the <=K-row anti-joined sketch \u2014 every side sketch-sized by construction",
    "hdr_histogram_quantiles": "the 3-row constant quantile list cross-joins the O(64*2^p)-row bucket frame (the rank filter is a post-join predicate) \u2014 sketch-sized sides only; the total n rides the cumulative window pass, so the sketch branch consumes the fact ONCE (the remaining shuffles are the exact-audit global rank, test-SF-only by design)",
    "hdr_grouped_percentiles": "the constant quantile list (|qs| rows) cross-joins the per-group bucket frame \u2014 the only BNL side is the tiny literal frame; per-group totals ride the same window pass as the cumulative walk, so the fact passes ONCE through the combinable groupBy (r10-opt: was 2 fact passes + an equi+range join)",
    "multi_period_distinct_users": "~30 period rows broadcast (range join)",
    "part_share_of_total": "1-row global-total aggregate broadcast (scalar subquery)",
    "program_demand_counter_merge": "1-row max-day aggregate broadcast (lazy scalar; the < comparison makes it BNL)",
    "word_doc_frequency": "1-row corpus-size aggregate broadcast (scalar subquery)",
    "tfidf_top_terms": "1-row corpus-size aggregate broadcast (scalar subquery)",
    "bpe_pair_counts": "1-row pair-total aggregate broadcast (corpus share denominator)",
    "dsir_selection": "1-row feature-total aggregate broadcast (the smoothed p/q denominators)",
    "zorder_locality": "1-row min/max domain-extent broadcast (the range normalizer)",
    "distribution_drift_psi": (
        "1-row time/value extent broadcast (bin edges + period midpoint) "
        "plus the 10-row bin-grid cross join (|event_types| x 10 rows — "
        "constant-sized, the full-grid PSI denominator)"
    ),
    "k_anonymity_audit": "1-row min/max balance-extent broadcast (the decile normalizer)",
    "embedding_pq_search": "10-row per-query ADC distance-table broadcast (the map-lookup scan; the != predicate makes it BNL)",
    "bigram_lm_quality": "1-row LM-token-total broadcast (the backoff denominator)",
    "ccnet_perplexity_buckets": (
        "the bigram-LM backoff scalar (inherited from bigram_lm_quality's "
        "shared plan) plus the 1-row scored-doc-count broadcast (the "
        "tercile denominator) — both scalar-sized"
    ),
    "hard_negative_mining": "10 anchor vectors broadcast against candidate scan (same shape as embedding_knn)",
    "unigram_surprisal_scores": "1-row corpus-token-total broadcast (the LM normalizer)",
    "source_mixing_weights": "1-row corpus-total broadcast (mixing-weight denominator)",
    "column_demand_program_details": "1-row max-day broadcast (trailing-7d history window bound)",
    "package_program_periods": "1-row max-day broadcast (trailing-7d history window bound)",
    "program_lookback_snapshot": "1-row snapshot-instant (max ts) broadcast — the reference's driver nodeTime",
    "user_census_by_area": "1-row report-window bound (max create_day) broadcast",
    "kmeans_clusters": (
        "coarse-quantized assignment broadcasts (r6 rework, similarity.py "
        "_kmeans_assign): at k<=8 the exact path broadcasts k<=8 centroid "
        "rows; at k>8 the BNLs are the C=ceil(sqrt(k)) coarse-seed "
        "broadcast (vectors probe top-2 of sqrt(k) cells, per-vector work "
        "O(sqrt(k)) not O(k)) and the centroid->cell bucketing join "
        "(k x sqrt(k), centroid-count-sized, not data-sized)"
    ),
    "semantic_dedup_decisions": (
        "same coarse-quantized k-means assignment BNLs as kmeans_clusters "
        "(shared _kmeans_assign, K proportional to n but broadcast sides "
        "are sqrt(K) coarse seeds); the within-cluster pair join is an "
        "equi-join on cid, not a BNL"
    ),
    "mmr_diverse_topk": (
        '1-row query-vector broadcast for the relevance scan, then one ON-true left join per MMR round against the selected set (broadcast, <=K=5 rows) — every BNL build side is <=5 rows and the probe side is the 50-row cached candidate cut, never the corpus (the raw count re-expands the cached cut per round, pre-execution inflation as above)'
    ),
    "bpe_vocab_merges": (
        "per merge round: the 1-row argmax pair broadcast (the chosen merge) and the 1-row tokens-after aggregate broadcast — all scalar-sized.  Raw counts here are inflated: the plan is analyzed pre-execution, so each round's .persist() reuse point re-expands the prior rounds' subtree; at runtime each round is one pass over the cached token frame"
    ),
    "bpe_apply_segmentation": (
        "same machinery as bpe_vocab_merges (shared _bpe_train): one 1-row "
        "argmax/scalar broadcast per rewrite round — the 7 BNLs are the 7 "
        "rounds' chosen-merge scalars, never a data-sized side"
    ),
    "snapshot_restore": "1-row bad-version aggregate broadcast (the post-mortem read)",
    "snapshot_partition_evolution": (
        "the two 1-row generation aggregates (new-range and old-range "
        "pruned scans) crossed into the single protocol-readout row — "
        "both BNL sides are exactly one row"
    ),
    "association_rules_parts": (
        "the 1-row n_orders aggregate broadcast (the support/lift "
        "denominator) crossed onto the 100-row top-k pair cut — scalar "
        "side, K-row probe; the pair mining itself is one keyed shuffle "
        "and both item-frequency joins are broadcast hash"
    ),
    "rfm_segmentation": (
        "the 1-row user-count broadcast (the quintile denominator) crossed "
        "onto the ranked user-grain frame — scalar-sized side"
    ),
    "ordered_event_funnel": (
        "the scalar-readout crossjoins: three 1-row stage-count aggregates "
        "and the 1-row delay aggregate combined into the single output row "
        "— every BNL side is exactly one row (the part_share_of_total "
        "pattern); the funnel chain itself is equi-joins (the 5 BHJs)"
    ),
    "channel_report_full": (
        "the 1-row day-count/report-date scalar broadcast, crossed onto the "
        "uv input (the narrow geo/user fact projection) and onto the "
        "per-user rows for the tiers.  It is one scalar aggregate that both "
        "carry as constant grouping keys, and the three grains share one "
        "grouping-sets aggregate per family, so there is no per-grain BNL."
    ),
}


def main() -> None:
    # AQE wraps plans in AdaptiveSparkPlan whose pre-execution string hides
    # codegen stage markers; capture static plans for honest codegen columns
    spark = get_spark("plan_report", extra_conf={"spark.sql.adaptive.enabled": "false"})
    sf_dir = "/root/testdata/sf0.01"
    rows = []
    for name in sorted(QUERIES):
        if name in STREAMING:
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, analyze(plan)))
        except Exception as e:  # pragma: no cover
            rows.append((name, {"error": str(e)[:60]}))

    print("# SCALING — measured physical-plan facts (sf0.01 plans, pre-AQE-execution)")
    print()
    print("Generated by `python tools/plan_report.py`.  Columns: shuffle")
    print("exchanges in the plan; join strategies (BHJ=broadcast hash,")
    print("SMJ=sort-merge, SHJ=shuffled hash, BNL=broadcast nested loop —")
    print("BNL >0 is a red flag); whole-stage codegen present; parquet filter")
    print("pushdown present (`-` = no filter in the query).  Streaming queries")
    print("are excluded (micro-batch plans).")
    print()
    print("| query | shuffles | BHJ | SMJ | SHJ | BNL | codegen | pushdown |")
    print("|---|---|---|---|---|---|---|---|")
    for name, a in rows:
        if "error" in a:
            print(f"| {name} | plan error: {a['error']} | | | | | | |")
        else:
            print(
                f"| {name} | {a['shuffles']} | {a['bhj']} | {a['smj']} | {a['shj']} "
                f"| {a['bnl']} | {a['codegen']} | {a['pushed']} |"
            )
    print()
    print("Reading guide: dimension joins should be BHJ; fact-fact joins SMJ/SHJ.")
    print("BNL is only acceptable against an intentionally tiny broadcast side;")
    print("every BNL above is one of these, by design:")
    for q, why in sorted(INTENTIONAL_BNL.items()):
        print(f"- `{q}`: {why}")
    print()
    print("Shuffle counts are the structural cost that scales with data volume —")
    print("each one is a full network pass over its input at 100 TB.")
    spark.stop()


if __name__ == "__main__":
    main()
