"""Benchmark harness: runs the headline corpus queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed to completion (count of the result) — collect() is
avoided so timing measures distributed execution, not driver serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship pipeline + the heaviest corpus queries.
HEADLINE = [
    "flagship_cdc_dedup",
    "e1_rank_window",
    "e2_latest_per_key_agg",
    "d1_join_back_dedup",
    "export_profile_pipeline",
    "h3_incremental_scan",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_volume",
    "t1_word_count",
    "t4_quality",
    "dd3_minhash_near_dup",
    "dd4_simhash",
    "s1_bruteforce_topk",
    "s2_lsh_topk",
    "s2b_ivf_topk",
    "w2_sliding",
    "w3_session",
    "r4_rollup",
    "r6_asof_join",
    # round-3 additions (no BASELINE floor entries — totals are therefore
    # not comparable across rounds; per-query floors are, see BENCH_NOTES)
    "dd8_substring_window",
    "s7_sq8_topk",
    "dd10_incremental_dedup",
    "t17_ngram_lm_score",
    # round-4 additions
    "dd11_paragraph_dedup",
    "mart5_linear_attribution",
    "t19_bm25",
    # round-5 additions
    "pipe5_export_e2e",
    "dd12_keep_best_per_cluster",
    "t27_heavy_hitters",
    "s9_hard_negatives",
    "r20_gap_fill",
    "mart7_cohort_ltv",
    # round-5b additions
    "mart8_time_decay_attribution",
    "dq3_referential_integrity",
    "t28_stratified_sample",
    "t29_quality_classifier",
    "w4_late_data_admission",
    "s10b_knn_graph_lsh",
    "h11_incremental_topk",
    # round-5d/5e additions
    "r22_asof_join",
    "t31_classifier_auc",
    "s12b_covariance_arrow",
    "g1_pagerank_copurchase",
    "fe1_pit_features",
    "mart10_basket_affinity",
    # round-5o/5p additions
    "mart14_funnel",
    "g2_triangles",
    "mart15_retention",
    "r31_rolling_active",
    # round-6 additions
    "g2b_triangles_support2",
    "pipe10_prep_funnel",
    "r33_asof_nearest",
    "s18_covariance_drift",
    # round-7 addition: the materialized prep funnel — with the
    # per-process index cache, run 1 of best-of-N pays the one-off build
    # and the recorded min is the steady-state probe (the number the
    # materialization exists to deliver; pipe10 above stays the
    # rebuild-per-run cost)
    "pipe10b_prep_funnel_materialized",
    # round-7: the materialized IVF lifecycle probe (base + frozen-
    # quantizer delta, partition-pruned on both sides).  Same index-
    # cache provenance as pipe10b: run 1 of best-of-N pays the one-off
    # build+append, the recorded min is the steady-state probe.
    "s2h_ivf_delta_probe",
    # round-7: end-to-end deterministic PQ/ADC search (the fully-
    # oracle-checked twin of the trained s8_pq_topk; inline form —
    # codes recomputed per run, the materialized serving path is s2d)
    "s8c_pq_adc_deterministic_topk",
    # round-7: end-to-end deterministic IVFPQ (coarse probe + residual
    # ADC) — the composition twin of the trained s2d, fully oracled
    "s2i_ivfpq_deterministic_topk",
    # round-8b additions (no BASELINE floors yet — measured on a host
    # reading 3.6x slow on the calib probe; floors deferred to the first
    # healthy-host round per the measurement-contamination rule, solo
    # numbers with calib context in BENCH_NOTES_r08)
    "h21_incremental_sessionize",
    "s25_recall_vs_probes",
    "g4_label_propagation",
    "pipe11_dataset_card",
    "pipe12_incremental_dataset_card",
    "t49_ngram_novelty",
    "t50_char_entropy",
    "dd18_cluster_size_histogram",
    # round-9: production graph-ANN (LSH build + beam search, no collect)
    "s29b_graph_ann_beam_lsh",
    # round-9: deterministic Lloyd's k-means (the training loop, oracled)
    "s2j_kmeans_lloyd_det",
    # round-9: graph-ANN recall-vs-hops tuning curve (one-walk sweep)
    "s30_graph_recall_curve",
    # round-9: deterministic KMV distinct sketch (value-checked cardinality)
    "r3c_kmv_distinct_det",
    # round-9: fixed-round min-label CC over the co-purchase graph
    "g5_cc_label_min",
    # round-9: RFM quintile segmentation (rank-free histogram ranks)
    "mart22_rfm_scores",
    # round-9: feed-distribution drift monitor
    "dq13_feed_drift",
    # round-9: MinHash estimator-calibration report
    "dd19_minhash_estimator_accuracy",
    # round-9 wave 2: A/B experiment readout (per-user 2x2 + half-up lift)
    "mart23_ab_lift",
    # round-9 wave 2: join/shuffle-key skew diagnostic
    "dq14_join_key_skew",
    # round-9 wave 2: sequential journey-pattern matching
    "mart24_journey_regex",
    # round-9 wave 2: integer EWMA over each user's last-8 events
    "r39_ewma_last8",
    # round-9 wave 2: calibration (reliability-diagram) bins for t29
    "t51_calibration_bins",
    # round-9 wave 3: k-core decomposition (decrement peeling)
    "g6_kcore",
    # round-9 wave 3: discrete-time churn hazard with censoring
    "mart25_churn_hazard",
    # round-9 wave 3: Matryoshka dimension-truncation recall curve
    "s31_dim_truncation_recall",
    # round-9 wave 3: degree-distribution histogram (graph-shape profile)
    "g7_degree_histogram",
    # round-9 wave 4: shingle-width separation (dedup tuning report)
    "dd20_shingle_width_separation",
    # round-9 wave 4: dedup-induced source-mixture shift (governance)
    "pipe13_dedup_mixture_shift",
    # round-9 wave 4: vocabulary-growth (Heaps-law) curve
    "t52_vocab_growth",
    # round-9 wave 5: error-budget / SLO burn monitor
    "dq15_error_budget",
    # round-9 wave 5: sessionized bounce rate by entry type
    "mart26_bounce_rate",
    # round-9 wave 5: LSH band/row trade-off (the S-curve tuning dial)
    "dd21_lsh_band_tradeoff",
    # round-9 wave 5: per-segment A/B readout (Simpson's-paradox check)
    "mart27_ab_by_segment",
    # round-9 wave 5: token burstiness (boilerplate detector, VMR e4)
    "t53_token_burstiness",
    # round-10: the oracle-checked BPE twins — full 8-merge induction
    # (unrolled-CTE oracle) and the Arrow encode kernel
    "t14c_bpe_fixed_merges",
    "t26b_bpe_encode_fixed",
    # round-10 wave 2: inverted-index sparse cosine top-k (postings
    # self-join, df-capped), Mann-Kendall trend test, mergeable
    # histogram-quantile sketch + its IVM twin, fixed-round BFS hops
    "t54_sparse_cosine_topk",
    "dq16_trend_mann_kendall",
    "r40_histogram_quantile",
    "h30_incremental_histquant",
    "g8_bfs_hops",
    # round-10 wave 3: Sen's slope (Mann-Kendall's magnitude companion),
    # feature hashing (stateless fixed-dim featurizer), and the
    # inverted-index IVM twin
    "dq17_sen_slope",
    "fe6_feature_hashing",
    "h31_incremental_postings",
    # round-10 wave 4: journey transition matrix + stitched-boundary IVM
    # twin, and the two value-checked transforms (PII redaction,
    # intra-doc repetition removal)
    "mart28_journey_transitions",
    "h32_incremental_transitions",
    "t56_pii_redaction",
    "t57_intradoc_dedup",
    # round-10 wave 5: the end-to-end curation funnel (the composition
    # of this round's value-checked transforms) and the trend IVM twin
    "pipe14_curation_e2e",
    "h33_incremental_trend",
    # round-10 wave 6: lexical-vs-dense retrieval agreement eval
    "s32_lexical_dense_agreement",
    # round-10 wave 7: labeled-corpus cluster purity + intake
    # completeness matrix
    "s33_cell_label_purity",
    "dq18_completeness_matrix",
    # round-11: fixed-|Q| PQ/IVFPQ scale twins (|Q|=500 at every sf —
    # isolates engine scaling from the %10 workload quadratic), the
    # deterministic power-iteration PCA value check, and pipe6 with its
    # full assembled oracle
    "s8c3_pq_adc_fixedq",
    "s2i3_ivfpq_fixedq",
    "s13b_power_iteration_det",
    "pipe6b_tokenize_pack_oracled",
    # round-11 wave 2: k-center coreset selection, mutual-kNN pairs,
    # the contamination-width curve, Markov top-1 readout, two new IVM
    # twins (feature hashing, completeness matrix), IQR outlier days
    "s35_kcenter_greedy_det",
    "s36_mutual_sparse_knn",
    "t58_contamination_curve",
    "mart29_markov_top1",
    "h34_incremental_feature_hashing",
    "h35_incremental_completeness",
    "dq19_iqr_outlier_days",
    # round-11 wave 3: postings deletion maintenance, multi-seed
    # harmonic closeness
    "h36_postings_delete_ivm",
    "g9_harmonic_closeness",
    # round-11 wave 4: lang-ID confusion audit, star-schema key audit,
    # outlier-days IVM twin, exact-quota stratified holdout
    "t60_langid_confusion",
    "dq20_key_uniqueness",
    "h37_incremental_outlier_days",
    "pipe15_stratified_holdout",
    # round-11 wave 5: the sparse-retrieval maintenance triangle closer
    "h38_incremental_mutual_knn",
    # round-12: s32's fixed-|Q| + pinned-df-cap scale twin (closes the
    # last %-of-corpus brute-force term) and the deterministic-HLL
    # register maintenance twin (the h7 family's full-oracle promotion)
    "s32b_lexical_dense_agreement_fixedq",
    "h7b_incremental_hll_registers",
    # round-12 wave 2: theta-sketch audience set-ops (mart11's sketch
    # twin promoted to a full oracle) + its kmv_merge maintenance twin
    "r41_kmv_setops",
    "h39_incremental_kmv_setops",
    # round-12 wave 3: per-doc tf-idf keywords (linear idf, integer-
    # exact) and the rolling-distinct KMV promotion of the r31 family
    "t61_tfidf_keywords",
    "r31c_rolling_active_kmv",
    # round-12 wave 4: t61's IVM twin and the ANN reindex-trigger report
    "h40_incremental_tfidf",
    "s37_centroid_shift",
    # round-12 wave 5: topic-stratified eval split (t61 -> pipe15 quota)
    "pipe16_topic_stratified_holdout",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from martech_pipelines_spark import caching, get_spark
    from martech_pipelines_spark.plans import QUERIES

    spark = get_spark("bench")
    # one warm-up action so JVM/codegen startup is not billed to the first query
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Environment calibration probe (round 8): a FIXED deterministic
    # CPU+shuffle workload measured best-of-3 alongside the corpus.  The
    # per-query floors in BENCH_BASELINE.json are absolute seconds from the
    # floor-setting environment; when the measuring host runs slower/faster
    # than that environment (round 8 observed a host-wide ~2x day), the
    # calib ratio (this run's calib / the floor-time calib recorded in
    # BENCH_BASELINE.json["calib"]) says how much of a floor deviation is
    # environment, not plan — without touching the honest raw numbers.
    def _calibrate() -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(30_000_000)
                .selectExpr("xxhash64(id) % 1000 AS b", "id")
                .groupBy("b")
                .agg({"id": "sum"})
                .count()
            )
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 3)

    calib = _calibrate()

    # n repeats per query, best-of-n recorded: single runs at sub-second
    # scales are jitter-dominated (VERDICT r02: dd4 "+33%" was exactly
    # this), and min is the standard noise-robust floor estimator.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    # Optional subset (comma-separated names) for smoke/debug runs; the
    # driver never sets it, so driver benches always run the full HEADLINE.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = [n for n in HEADLINE if n in set(only.split(","))] if only else HEADLINE
    timings: dict[str, float] = {}
    for name in headline:
        if name not in QUERIES:
            continue
        best = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
            caching.release()  # free operator-persisted intermediates per run
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)

    # Regression gate: warn (stderr — stdout stays ONE JSON line) when a
    # query exceeds 2x its recorded floor.  Floors live in
    # BENCH_BASELINE.json and only apply at the floor's own sf (0.1).
    #
    # Solo-recheck pass (round 10, VERDICT r9 #2): in-sweep readings are
    # contaminated by cross-query contention — r7-r9 repeatedly saw 1.5-3x
    # in-sweep ratios solo-check back under 1.2x with no code change
    # (t4 3.22x→1.14x, dd8 1.49x→0.80x).  So any query whose in-sweep best
    # exceeds 1.5x its floor is re-run once more, solo, at sweep end (the
    # quietest point of the run), and the artifact records BOTH numbers:
    # `queries` keeps min(in-sweep, solo) as the honest best observed;
    # `solo_recheck` carries the disambiguation {in_sweep, solo} so a
    # floor-drift read never needs a manual follow-up session.
    solo_recheck: dict[str, dict[str, float]] = {}
    try:
        floors = json.load(
            open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH_BASELINE.json"))
        )
        if str(floors.get("sf")) == sf_dir.rstrip("/").rsplit("sf", 1)[-1]:
            drifted = [
                name
                for name, t in timings.items()
                if floors["queries"].get(name)
                and t > 1.5 * floors["queries"][name]
            ]
            for name in drifted:
                best = None
                for _ in range(n_runs):
                    t0 = time.perf_counter()
                    QUERIES[name](spark, sf_dir).count()
                    elapsed = time.perf_counter() - t0
                    caching.release()
                    best = elapsed if best is None else min(best, elapsed)
                solo_recheck[name] = {
                    "in_sweep": timings[name],
                    "solo": round(best, 3),
                }
                timings[name] = min(timings[name], round(best, 3))
            for name, t in timings.items():
                floor = floors["queries"].get(name)
                if floor and t > 2.0 * floor:
                    print(
                        f"WARN bench regression: {name} {t:.3f}s > 2x floor "
                        f"{floor:.3f}s",
                        file=sys.stderr,
                    )
    except (OSError, ValueError, KeyError):
        pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_corpus_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n": n_runs,
        "calib": calib,
    }
    if solo_recheck:
        payload["solo_recheck"] = solo_recheck
    # The driver records only the LAST 2000 chars of stdout and parses the
    # final line: a single giant JSON line gets its HEAD clipped and becomes
    # unparseable (BENCH_r08.json "parsed": null), and the full 140-query
    # map serializes to ~4 KB, so it cannot ride the final line whole.  So:
    # persist the full payload to disk, print it once for human logs, then
    # end stdout with a compact final line that (round 13, VERDICT r12 #2)
    # carries as many per-query timings as fit a strict character budget —
    # slowest queries first, 0.01 s rounding — so PERF's per-query/geomean/
    # scaling comparisons work again for every query that materially moves
    # the total.  Sub-second omitted queries are jitter-dominated at this
    # scale; their numbers stay in BENCH_FULL_LAST.json (committed).
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LAST.json"
        )
        with open(full_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(payload))
    compact = {k: payload[k] for k in ("metric", "value", "unit", "sf", "n", "calib")}
    compact["n_queries"] = len(timings)
    compact["queries_file"] = "BENCH_FULL_LAST.json"
    compact["queries"] = {}
    # placeholder with at least the final count's digits, so the budget
    # check below measures the full final line
    compact["queries_omitted"] = len(timings)
    budget = 1600  # final line must stay well inside the 2000-char tail
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = round(t, 2)
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    compact["queries_omitted"] = len(timings) - len(compact["queries"])
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
