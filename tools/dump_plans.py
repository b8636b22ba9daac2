"""Generate PLANS.md: formatted physical plans of the headline queries.

The plan-shape *assertions* live in tests/test_plans.py; this artifact is
the human-readable evidence — what Catalyst actually does with each
headline query at sf0.001 (plan shapes are scale-invariant; AQE specifics
resolve at runtime).

Usage: python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

SHOWCASE = [
    ("flagship_cdc_dedup", "one hash shuffle + WindowGroupLimit top-k"),
    ("export_profile_pipeline", "zero exchanges, zero Python, fused codegen"),
    ("d2_semi_join_dim", "broadcast left-semi — fact side never shuffles"),
    ("q5_local_volume", "star join: dims broadcast, facts shuffle once each"),
    ("dd3_minhash_near_dup", "explode -> agg (map-side combine) -> skinny band join"),
    ("s2_lsh_topk", "Arrow signature UDF -> band join -> no cartesian anywhere"),
    ("h3_incremental_scan", "watermark predicate inside PushedFilters"),
    (
        "s2c_ivf_materialized",
        "two-stage IVF: probe scan carries PartitionFilters cell INSET — "
        "only probed cells' partitions are read",
    ),
    (
        "flagship_cdc_dedup_skew",
        "salted two-phase compaction: both phases partial-agg (map-side "
        "combine); hot key split across salt buckets",
    ),
    (
        "t9b_repetition_hof",
        "zero exchanges: top-bigram multiplicity as a per-row codegen fold "
        "over the sorted bigram array",
    ),
    (
        "dd3b_minhash_rejoin",
        "skinny signature shuffle (P longs/doc, map-side combine) + "
        "semi-join-pruned candidate re-derivation",
    ),
    (
        "s1b_bruteforce_arrow",
        "exact top-k with map-side candidate pruning: the window ranks "
        "batches*|Q|*k rows, not |Q|*N scored pairs",
    ),
    (
        "dd8_substring_window",
        "exact-substring dedup: ONE scan + explode, count-over-window on "
        "the hash — no self-join, no broadcast of the (corpus-sized) "
        "dup-hash set",
    ),
    (
        "dd9_decontaminate",
        "decontamination: eval window-hash set broadcast (benchmarks are "
        "small by nature); train corpus scanned once, map-side filtered",
    ),
    (
        "s6_semdedup",
        "SemDeDup: in-cluster-only pair join (N^2/C work), norms computed "
        "per row before the join, cross-cluster pairs never materialize",
    ),
    (
        "s7_sq8_topk",
        "SQ8 ADC: quantize+reconstruct fused into the corpus-side "
        "projection (codegen), then the s1 broadcast plan — corpus never "
        "shuffles",
    ),
    (
        "dd10_incremental_dedup",
        "incremental ingest dedup: band join anchored on the batch side — "
        "index signatures scanned (skinny parquet), index raw docs never "
        "read, index-vs-index pairs never generated",
    ),
    (
        "t17_ngram_lm_score",
        "bigram-LM scoring: one bigram explode feeds per-doc counts AND "
        "the corpus rollup (second-level agg of the same cached table); "
        "vocab-keyed shuffles only",
    ),
    (
        "q19_disjunctive_revenue",
        "OR-of-ANDs across both join sides: common p_brand IN-list "
        "extracted as a pushed conjunct on the broadcast part scan; full "
        "disjunction evaluates post-join",
    ),
    (
        "q21_waiting_suppliers",
        "EXISTS/NOT-EXISTS decorrelated: one per-order aggregate joined "
        "back — two passes over the filtered join, no correlated "
        "subqueries",
    ),
    (
        "mm6_phash_near_dup",
        "perceptual-hash near-dup: Arrow hash kernel, banded self-join on "
        "(band, band-value), popcount verify — no all-pairs",
    ),
    (
        "pipe3_mixture_resample",
        "mixture executor: S-row rate table broadcast; data path is one "
        "scan + codegen md5-bucket filter",
    ),
    (
        "s2d_ivfpq_materialized",
        "IVFADC: probe scan carries PartitionFilters cell INSET over the "
        "m-byte PQ code table; full vectors touched only in the "
        "broadcast-shortlist refine",
    ),
    (
        "dd11_paragraph_dedup",
        "paragraph dedup: ONE tokenize+explode, hash-keyed first-"
        "occurrence window, totals and rebuilt text from the SAME "
        "partial+final agg — raw text never re-read",
    ),
    (
        "mart5_linear_attribution",
        "multi-touch attribution: user-keyed equi-join with the 7-day "
        "range as a post-join filter, conv-keyed window for the split, "
        "integer-paise credits",
    ),
    (
        "t19_bm25",
        "BM25: postings filtered to query terms BEFORE the shuffle; "
        "df + corpus stats broadcast; TakeOrdered top-k",
    ),
    (
        "mart4_scd2",
        "SCD2 build: one keyed shuffle + lead() — no history self-join",
    ),
    (
        "q2_min_cost_supplier",
        "correlated-min decorrelated into ONE window-min over costs; "
        "supplier/nation/region dims broadcast",
    ),
    (
        "q20_potential_promotion",
        "nested semi-join chain flattened: keyed 1997-shipment agg + "
        "broadcast dims, exact integer/DECIMAL comparison",
    ),
    (
        "mart6b_pit_window",
        "join-free point-in-time join: union versions+facts, ONE window "
        "carry-forward per user — 0 join nodes, 1 exchange (the "
        "skew-proof temporal-join form; shares mart6's oracle)",
    ),
    (
        "h8_snapshot_diff",
        "snapshot-diff CDC: co-partitioned full-outer join + null-safe "
        "codegen classifier — manufactures a change feed without an "
        "upstream log",
    ),
    (
        "pipe5_export_e2e",
        "CDC compaction feeding the REST-export projection: one keyed "
        "shuffle total, export transform is a narrow codegen stage the "
        "sink consumes partition-parallel",
    ),
    (
        "t23_domain_cap",
        "per-domain top-n cap: quality scored in the scan stage, "
        "WindowGroupLimit bounds a skewed domain at n rows per map task",
    ),
    (
        "t27_heavy_hitters",
        "two-pass Misra-Gries: Arrow MG summaries -> candidate superset "
        "-> exact counts of candidates only; shuffle bounded by "
        "partitions x candidates, not vocabulary",
    ),
    (
        "h9_merge_upsert",
        "MERGE apply: one keyed full-outer join, delete/update/insert "
        "as codegen coalesces — the write-side twin of h8",
    ),
    (
        "r20_gap_fill",
        "resample + forward fill: keyed agg, span grid explode, "
        "last(ignorenulls) window — all partitioned by the same key",
    ),
    (
        "s9_hard_negatives",
        "contrastive mining: broadcast-anchor NLJ, one window over "
        "(query, same-label) picks positive and hard negative together",
    ),
    (
        "t29_quality_classifier",
        "hashed linear model application: ONE codegen projection, zero "
        "exchanges, zero Python — the weight vector lives in the expression",
    ),
    (
        "t28_stratified_sample",
        "exact quota sampling: WindowGroupLimit partial top-k caps the "
        "shuffle at quota rows per stratum per map task",
    ),
    (
        "w4_late_data_admission",
        "watermark replay: ordered running-max only over the per-batch "
        "summary, broadcast back; corpus side never globally sorted",
    ),
    (
        "mart14_funnel",
        "ordered funnel: ONE user-keyed shuffle + a codegen aggregate "
        "fold over sorted event arrays — no per-step self-join chain",
    ),
    (
        "g2_triangles",
        "degree-ordered triangle enumeration: persisted oriented edges, "
        "wedge self-join bounded by O(sqrt(m)) out-degree, keyed closing "
        "join — no all-pairs anywhere",
    ),
    (
        "r31_rolling_active",
        "rolling WAU: distinct user-day reduction, bounded x7 explode, "
        "origin-flag report days — shuffle volume independent of raw "
        "event count",
    ),
    (
        "s12b_covariance_arrow",
        "integer-exact covariance, scale form: one Arrow Gram-partial "
        "kernel per partition (int64 X.T@X), DECIMAL(38,0) reduce of "
        "partitions*d^2 cells, integer half-up projection — "
        "bit-deterministic under any partitioning",
    ),
    (
        "r33_asof_nearest",
        "nearest as-of: ONE hash exchange, one shared sort feeding "
        "backward AND forward carry windows, zero join nodes — the "
        "skew-proof two-direction temporal match",
    ),
    (
        "g2b_triangles_support2",
        "production-density triangles: support>=2 filter rides the "
        "existing pair aggregation (HAVING on the same keyed agg) — "
        "same plan as g2, 3.3x cheaper on the thresholded graph",
    ),
    (
        "mart17_churn",
        "week-over-week churn: one distinct (user, week) state, keyed "
        "self-join on (user, week+1), 1-row broadcast max-week bound — "
        "shuffles sized by |user-weeks|, never raw events",
    ),
    (
        "pipe10b_prep_funnel_materialized",
        "materialized prep funnel: the 5-stage report reads ONLY the "
        "doc-stats + window-hash index parquet — no tokenizer, no "
        "regex, no raw text anywhere in the probe plan",
    ),
    (
        "s2e_ivf_cells",
        "IVF cell assignment: centroid table broadcast, integer-exact "
        "distances in codegen, candidates collapse map-side via "
        "min(struct) — corpus vectors never shuffle",
    ),
    (
        "s2g_ivf_deterministic_topk",
        "end-to-end deterministic IVF: one Arrow kernel assigns cells + "
        "applies the probe mask + scores via a single matmul per batch, "
        "emitting only batches*|Q|*k rows into the final rank exchange",
    ),
    (
        "s2h_ivf_delta_probe",
        "the materialized IVF lifecycle probe (shares s2g's oracle): "
        "base + frozen-quantizer delta read as a union whose BOTH scans "
        "carry the literal probed-cell partition filter; queries "
        "broadcast, one rank exchange",
    ),
    (
        "s8c_pq_adc_deterministic_topk",
        "end-to-end PQ/ADC under a full oracle: one Arrow kernel "
        "encodes each corpus batch and scores every query by m integer "
        "LUT gathers, emitting only batches*|Q|*k rows into the final "
        "rank exchange",
    ),
    (
        "s2i_ivfpq_deterministic_topk",
        "end-to-end IVFPQ (coarse probe x residual ADC) under a full "
        "oracle: one Arrow kernel assigns cells, encodes residuals in "
        "exact int64 and gathers per-(query, cell) LUTs with non-probed "
        "pairs masked, emitting only batches*|Q|*k rows",
    ),
]


def main() -> None:
    from martech_pipelines_spark import get_spark
    from martech_pipelines_spark.plans import QUERIES

    spark = get_spark("dump_plans", shuffle_partitions=8)
    print("# PLANS — physical plans of the headline queries (sf0.001)\n")
    print(
        "Generated by `python tools/dump_plans.py`; the shapes asserted in"
        " `tests/test_plans.py` are visible here.\n"
    )
    for name, note in SHOWCASE:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        print(f"## {name}\n\n*{note}*\n")
        print("```")
        print(buf.getvalue().rstrip())
        print("```\n")
    spark.stop()


if __name__ == "__main__":
    main()
