"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {pin_name: subset_total, ...}, "sf": ...,
"n_queries": N, "detail_file": "BENCH_DETAIL.json"}.

The final stdout line is kept SHORT on purpose: round 6's 75-query
per-query map outgrew the driver's tail-capture buffer and the official
BENCH_r06 record came back unparseable.  The full per-query map now goes
to stderr AND to BENCH_DETAIL.json next to this script (committed per
round), while stdout carries only the totals the cross-round pins need:
``pinNN`` is the total over the first NN entries of BENCH_QUERIES (the
list is append-only, so each historical round's set is a prefix — 28=r2,
40=r4, 52=r5, 75=r6).

Each query is timed end-to-end (plan + execute + collect-to-count); the
session is warmed with a trivial job first so JVM startup isn't billed to
the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_homed_spark.plans import QUERIES  # noqa: E402
from bigdata_homed_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family, the ones whose plans matter at scale
BENCH_QUERIES = [
    "pricing_summary",
    "region_revenue",
    "top_parts_per_brand",
    "interval_join_ship_window",
    "rollup_region_nation",
    "gap_sessions",
    "halfhour_activity",
    "multi_period_distinct_users",
    "latest_event_per_user",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_docs",
    "quality_by_source",
    "embedding_knn",
    "embedding_ann_pairs",
    "stream_hourly_event_counts",
    "video_play_report",
    "channel_report",
    "dedup_decisions",
    "online_rate_halfhour",
    "session_window_spans",
    # round-1 widening: TF-IDF (explode-heavy), centroid train (posexplode
    # agg), fact-fact join + 2-stage distinct, report-grain re-agg, and the
    # first-seen self-join — the new shapes whose plans matter at scale
    "tfidf_top_terms",
    "label_centroids",
    "bind_degree_histogram",
    "lookback_channel_grains",
    "new_vs_returning",
    # round-2 widening: exact bitmap distinct (index build + OR-merge
    # re-agg), shingle first-seen novelty (inverted-index self-join)
    "bitmap_multi_period_distinct",
    "ngram_novelty",
    # round-3 widening: the full-fidelity report chains (multi-grain
    # cached re-aggregation; time-grid fan-out + 5-key left join) and the
    # new text ops (no-shuffle chunk fan-out; in-row pair build + agg).
    # NOTE for cross-round comparison: totals are NOT comparable to
    # BENCH_r02 — compare per-query vs BENCH_SCALING.md per BASELINE.md.
    "channel_report_full",
    "live_channel_halfhour_full",
    "rag_chunking",
    "bpe_pair_counts",
    # round-4 widening: raw-log pairing ETL, the demand full-column chain,
    # the order-lifecycle revenue report, and the per-user label assembly
    # (argmax windows + wide-row join) — the new shapes added this round.
    # Totals remain incomparable across rounds; compare per-query.
    "iacs_login_sessions",
    "demand_report_full",
    "package_revenue_report",
    "user_profile_labels",
    # late-r4 widening: the 3-feed union + share-of-total heat rank
    # (countDistinct over a union, date-partitioned top-100) and the
    # census (min_by family grain + pay semi-join) — the two heaviest
    # new plans of the second r4 batch.
    "star_rank_period_heat",
    "user_census_by_area",
    # late-r4 LLM-pipeline widening: compressed-domain ANN (codebook
    # train + encode + ADC + re-rank) and cross-doc boilerplate removal
    # (line-df + broadcast-flag + ordered reassembly).
    "embedding_pq_search",
    "boilerplate_line_removal",
    # round-5 widening: SemDeDup (K∝n clustered pair join), the two new
    # reference-coverage reports (detail join + device packing; dual
    # bridge-chain union), and the executed-JDBC roundtrip.  Totals remain
    # incomparable across rounds; compare per-query.
    "semantic_dedup_decisions",
    "personal_open_accounts",
    "demand_package_report",
    "jdbc_dim_roundtrip",
    # late-r5 LLM-pipeline widening: ExactSubstr window-hash span dedup
    # (the token-linear explode + 12-byte shuffle) and DSIR hashed-ngram
    # importance scoring (explode + broadcast bucket table).
    "exact_substring_spans",
    "dsir_selection",
    # Z-order layout: the min/max-broadcast + codegen interleave + 256-key
    # agg whose plan is the whole point (no wide shuffle).
    "zorder_locality",
    # SCD2 history build: three stacked keyed windows on one exchange.
    "scd2_status_history",
    # hard-negative mining: broadcast-anchor scored scan + dual-role window.
    "hard_negative_mining",
    # CCNet-style bigram-LM scoring: two hash-key LM tables + 3-way
    # compact-key join over the token stream.
    "bigram_lm_quality",
    # incremental ExactSubstr: staged window-hash index + batch-only explode.
    "incremental_substring_report",
    # in-row 36-term entropy chain: pure codegen quality signal.
    "char_entropy_quality",
    # round-6 widening: the ChannelLiveByRunLogRealTime end-to-end
    # streaming analog (4 replayed micro-batches through keep-latest ->
    # terminal join -> snapshot upsert -> TTL -> dual-grain report).
    # NOTE: its wall time is dominated by Structured Streaming fixed
    # machinery (per-batch checkpoint + state-store I/O), not data volume —
    # compare per-query, and expect it roughly flat across SFs.
    "stream_channel_live_counts",
    # round-6 widening 2: the executed push sinks — varint pack ->
    # per-partition pipelined publish -> read-back -> decode (S12), and
    # the salted-rowkey cell encode -> batched Puts -> read-back (S11).
    # Small frames by design (topN / dim-grain cells); they bench the
    # foreachPartition + Arrow-codec fixed costs, roughly flat across SFs.
    "rank_list_publish_roundtrip",
    "hbase_cell_roundtrip",
    # round-6 widening 3: IVFADC (coarse inverted lists × the shared PQ
    # codebook — the probed-list ADC equi-join scan; benches cheaper than
    # embedding_pq_search in the same session because training is cached)
    # and Okapi BM25 retrieval scoring (tf/df token aggs + broadcast
    # probe/corpus stats + per-doc decimal sum).
    "embedding_ivf_pq_search",
    "bm25_doc_scores",
    # Gopher Table-A1 composite filter: 7 in-row rules + one per-source agg
    # (pure codegen scan — benches the widest single-projection expression).
    "gopher_quality_flags",
    # compressed-domain near-dup banding over the cached PQ index: 4n-row
    # 15-bit band self-join + pair-distinct + exact-cosine verify.
    "pq_code_block_dedup",
    # round-6 widening 4: the first ITERATIVE bench entry — 8 fixed-point
    # PageRank rounds over the co-order part graph (one keyed shuffle +
    # one broadcast-ranks map-join per round; benches the per-round fixed
    # machinery, so expect it closer to flat than linear across SFs) —
    # and sorted-neighborhood fuzzy linkage (two-pass global rank +
    # rn-shift equi-join + native levenshtein verify; n·W candidates by
    # construction).
    "pagerank_copurchase_parts",
    "sorted_neighborhood_linkage",
    # PSI drift monitor: one fact scan + (type, bin) combinable shuffle +
    # 1-row extent broadcast — benches the smoothed-log term machinery.
    "distribution_drift_psi",
    # round-6 widening 5: count-min sketch build (token pass → sketch-sized
    # (r,col) groupBy → broadcast probe join) and the CDC tombstone fold
    # (3 replayed micro-batches through a keep-greatest merge-on-read commit;
    # streaming fixed costs dominate, like the other foreachBatch entries —
    # expect ~flat across SFs).
    "cms_heavy_hitters",
    "stream_cdc_apply",
    # prefix-filtered set-similarity join (All-Pairs/PPJoin): df shuffle →
    # in-row prefix slice → length-filtered prefix self-join → positional
    # prune groupBy → exact verify on survivors only.
    "prefix_filter_jaccard_pairs",
    # round-6 widening 6: the BPE merge loop — 3 unrolled trainer rounds,
    # each a compact pair-key agg + doc-partitioned rewrite windows over
    # the persisted token frame (benches the iterate-with-persist shape;
    # per-round cost is token-linear) — and MMR diversity selection (one
    # corpus relevance pass + top-C cut; the K greedy rounds are 50-row
    # work, so expect the number dominated by the single scan).
    "bpe_vocab_merges",
    "mmr_diverse_topk",
    # snapshot-table lifecycle: 3 commits (2 appends + 1 compaction
    # rewrite) then 3 manifest-pinned reads; first call pays the writes,
    # warm repeats measure the pinned reads (session-cached table).
    "table_snapshot_timetravel",
    # snapshot CDC derivation: one PK full-outer join between two pinned
    # versions + value-compare classify (session-cached table, same
    # write-once semantics as above).
    "snapshot_diff",
    # zone-map pruned range scan: manifest min/max skipping leaves 2 of 7
    # files; warm repeats measure the pruned read (table session-cached).
    "snapshot_pruned_scan",
    # copy-on-write MERGE: first call pays the yearly build + the merge
    # (1 file rewritten of 7); warm repeats measure the merged-state read.
    "snapshot_merge_upsert",
    # exactly-once streaming commits: 4 replayed micro-batches each landing
    # as an idempotent manifest commit + a poisoned replay; streaming fixed
    # costs dominate (like the other foreachBatch entries) — expect ~flat.
    "stream_snapshot_commits",
    # RESTORE roundtrip: good build -> corrupted rewrite -> manifest-only
    # rollback; warm repeats measure the restored-head + bad-version reads.
    "snapshot_restore",
    # additive schema evolution: two-vintage merge-schema read with NULL
    # backfill (table session-cached; warm repeats measure the union read).
    "snapshot_schema_evolution",
    # incremental change-feed read: O(new files) consumption off the cached
    # yearly table (5 of 7 files scheduled, no table rescan).
    "snapshot_incremental_read",
    # round-7 widening: Hive-partition manifest pruning (ONE partitioned
    # commit fans out 7 year files; the scan plans 2 of 7 from partition
    # values alone), the OPTIMIZE clustering rewrite (scattered ingest ->
    # range-clustered rewrite with footer zone-map refresh; first call pays
    # both layouts, warm repeats measure the pruned clustered read), and
    # the dual-table exactly-once stream (two manifest commits per batch +
    # a poisoned replay against BOTH tables; streaming fixed costs
    # dominate, expect ~flat across SFs like the other foreachBatch rows).
    "snapshot_partition_pruned_scan",
    "snapshot_clustering_rewrite",
    "stream_dual_snapshot_commits",
    # Late-r7 additions (81st+): dedup pipeline's canonical-representative
    # final stage (one groupBy over the components output) and the BPE
    # tokenizer APPLY pass (token-linear greedy segmentation with the
    # trained merge ranks broadcast).
    "dedup_canonical_keep",
    "bpe_apply_segmentation",
    # Merge-on-read deletion vectors (delete + merge with zero file
    # rewrites; cost = fixture commits + one DV anti-join read).
    "snapshot_merge_on_read",
    # Streaming CDC upsert INTO the snapshot table (foreachBatch +
    # batch-id-idempotent merge-on-read; streaming fixed costs dominate).
    "stream_mor_upsert",
    # Write-audit-publish: staged ingest + audit gate + atomic promote
    # (cost = fixture commits; the audited write happens once).
    "snapshot_wap_publish",
    # Date-partitioned streaming snapshot sink (Hive-partitioned
    # batch-id commits; streaming fixed costs dominate).
    "stream_partitioned_snapshot_sink",
    # Merge-on-read UPDATE (DV + reinsert in one atomic commit).
    "snapshot_update_inplace",
    # DLT weighted priority sampling (map-only + per-source top-k).
    "priority_sample_per_source",
    # Linear-interpolation gap fill (grid explode + 2 window passes).
    "timeseries_gap_interpolation",
    # Ordered 3-step funnel (type-pruned min-aggs chained on user grain).
    "ordered_event_funnel",
    # Retention cohort triangle (two aggs, shared user_id partitioning).
    "retention_cohorts",
    # First-order Markov transition matrix (one lead window + pair agg).
    "event_transition_matrix",
    # RFM quintile segmentation (3 distributed-rank passes, user grain).
    "rfm_segmentation",
    # Rolling DAU/WAU/MAU via 28x explode fan-out + one 3-distinct agg.
    "rolling_active_users",
    # Trailing-week z-score anomalies (integer window sums, one exchange).
    "timeseries_zscore_outliers",
    # Basket association rules (pair agg -> top-k cut -> broadcast joins).
    "association_rules_parts",
    # Degree-oriented triangle counting + local clustering coefficient.
    "triangle_count_copurchase",
    # Growth accounting: new/retained/resurrected/churned + quick ratio.
    "growth_accounting",
    # Streaming additive IVM with retractions (4 availableNow triggers +
    # per-batch MoR merges; wall time is trigger machinery, ~flat in SF).
    "stream_ivm_aggregates",
    # Partition evolution: mixed-layout grouped scans + two-tier pruning.
    "snapshot_partition_evolution",
    # Item-item CF neighbor lists (pair agg + broadcast norms + per-item window).
    "item_item_neighbors",
    # TWAP: one lead window + exact decimal weighted sums per type.
    "time_weighted_average",
    # Day-over-day movers: two windows over the compacted day x type series.
    "trending_daily_movers",
    # CCNet tercile selection: bigram-LM scores -> distributed rank -> buckets.
    "ccnet_perplexity_buckets",
    # Label propagation: 3 fixed LPA rounds, integer votes (2nd iterative entry).
    "label_spread_copurchase",
    # TrustRank: seed-teleport PageRank, 4 rounds (3rd iterative entry).
    "trustrank_copurchase",
    # round-8 widening: the two partitioned lakehouse maintenance verbs —
    # per-partition bin-pack OPTIMIZE (DV fold + relocation under the
    # col=value dirs) and partitioned copy-on-write MERGE (5 of 7 files
    # carried path-identical).  Commit-protocol fixed costs dominate;
    # expect both roughly flat across SFs like the other snapshot verbs.
    "snapshot_partitioned_optimize",
    "snapshot_partitioned_merge",
    # late-r8: always-on CHECK-constraint gate (combined-predicate batch
    # validation) and column mapping (rename/drop as metadata-only DDL).
    "snapshot_check_constraints",
    "snapshot_column_mapping",
    # round-9: partition-type fidelity pin — evolved bigint>2^31 +
    # leading-zero-string partition columns through evolve -> rewrite ->
    # append; benches the explicit-schema keyed-group scan (one extra
    # footer probe per layout generation, commit-protocol fixed costs
    # otherwise — expect flat across SFs like the other snapshot verbs).
    "snapshot_evolved_type_fidelity",
    # round-9 widening: winnowing (per-row k-gram window minima — the
    # no-shuffle projection bench point for the md5-heavy hot loop), the
    # KMV theta-sketch overlap (two TakeOrderedAndProject K-row sketches +
    # scalar readout), and U-shaped multi-touch attribution (same window
    # pass as purchase_attribution, wider credit arithmetic).
    "winnowing_fingerprints",
    "kmv_audience_overlap",
    "position_attribution_credit",
    # late-r9: the feature-store point-in-time join — one union + one
    # window pass assembling three feature streams from two fact tables.
    "point_in_time_features",
    # late-r9 streaming: mergeable-KMV sketch maintenance over 4 replayed
    # micro-batches (per-batch TakeOrdered cut to K rows, O(K) state;
    # foreachBatch fixed costs dominate — expect ~flat across SFs like
    # the other streaming entries).
    "stream_kmv_sketch_merge",
    # round-10: metadata-table + maintenance-pool driver surfaces.  The
    # warm runs measure the PURE-MANIFEST files_table read (commit-time
    # row/byte stats, no footer opens) and the compacted-table scan after
    # the ~80-partition pooled OPTIMIZE; the builder (drip ingest + MoR
    # delete + pooled compaction) is session-cached, paid on cold only.
    "snapshot_files_metadata",
    "snapshot_pooled_optimize",
    # round-10: the Hive-escaping contract query — CoW merge survivor
    # relocation under escaped `part=...` dirs; warm runs measure the
    # 15-partition grouped read (builder session-cached).
    "snapshot_escaped_partition_values",
    # round-10 widening: the sketch suite — HDR log-linear quantile sketch
    # (integer-exact bucketing, one combinable groupBy + a few-hundred-row
    # cumulative walk), theta-sketch A-not-B (K-row frames after the
    # TakeOrderedAndProject scans), and the streaming additive-merge HDR
    # job (per-batch bucket groupBy + batch-id dedup; foreachBatch fixed
    # costs dominate, expect ~flat across SFs).
    "hdr_histogram_quantiles",
    "kmv_anotb_audience",
    "stream_hdr_sketch_merge",
    # round-10 widening 2: epochs-per-source mix materialization (explode
    # <=4 + combinable agg, zero extra shuffle) and the tagged-dataset pin
    # (three pinned manifest reads; builder session-cached).
    "source_epoch_mixing",
    "snapshot_tag_dataset_pin",
    # round-10 widening 3: per-dimension sketch quantiles (one combinable
    # groupBy; per-group bucket-frame windows) and the one-scan
    # expectation suite (conditional agg + PK-dup agg + broadcast RI
    # anti-join).
    "hdr_grouped_percentiles",
    "data_quality_expectations",
    # native session windows on the event stream (single-batch replay +
    # final-watermark flush; Spark's session-merge stateful operator).
    "stream_session_windows",
]


def main() -> None:
    spark = get_spark("bench")
    # warm the JVM + parquet footer caches out of the measurement
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        # run twice: first pays whole-stage-codegen compile (~1-3s for wide
        # expression trees), second is the steady-state cost that matters at
        # scale; report the warm run, log both
        t0 = time.time()
        n = fn(spark, SF_DIR).count()
        cold = time.time() - t0
        # noise guard: this box carries co-tenant load, so any single warm
        # observation can be inflated by GC/contention.  Take the min of
        # TWO warm runs unconditionally — a symmetric estimator (fast and
        # slow outliers treated alike); tools/query_profile.py takes the min of 3.
        warms = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            warms.append(time.time() - t0)
        dt = min(warms)
        timings[name] = round(dt, 3)
        total += dt
        print(f"# {name}: warm {dt:.2f}s / cold {cold:.2f}s ({n} rows)", file=sys.stderr)
        # drop this query's persisted intermediates so cache memory doesn't
        # accumulate across the suite and inflate later queries (each query
        # still keeps its own cache between its cold and warm runs)
        spark.catalog.clearCache()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # cross-round pinned-subset totals: BENCH_QUERIES is append-only, so
    # each historical round's headline set is a prefix of today's list
    pins = {}
    for n in (28, 40, 52, 75, 104, 109, 114):
        if len(BENCH_QUERIES) >= n:
            pins[f"pin{n}"] = round(sum(timings[q] for q in BENCH_QUERIES[:n]), 2)
    detail = {
        "metric": "headline_query_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    print("# full per-query map: " + json.dumps(detail, separators=(",", ":")),
          file=sys.stderr)
    # the ONE stdout line, compact (no spaces) and bounded in size so the
    # driver's tail capture always parses it
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": round(total, 2),
                "unit": "sec",
                "queries": pins,
                "sf": sf_val,
                "n_queries": len(BENCH_QUERIES),
                "detail_file": "BENCH_DETAIL.json",
                # make the core-count contract visible to the driver's
                # scaling probe: the resolved $SPARK_GRAFT_CPUS (drives
                # local[cpus] + shuffle partitions, session.py) and the
                # parallelism the context actually came up with
                "cpus": DEFAULT_CPUS,
                "default_parallelism": spark.sparkContext.defaultParallelism,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
